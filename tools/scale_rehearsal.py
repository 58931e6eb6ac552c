"""Measured scaling exponents for the heavy operator family AND the
relational SURVEY core.

SCALE.md argues the bucketed dedup/similarity paths are near-linear;
until round 5 the largest observed point was sf0.1, and until round 6
the relational half of the engine (flagship join shapes) had no
measured point above sf0.1 at all.  This tool synthesizes larger
fixtures by replicating the real sf0.1 tables with offset ids:

- documents/embeddings get a deterministic per-replica text
  perturbation (replicas are NEAR-duplicates — same LSH buckets,
  different shingles, the adversarial shape for dedup cost);
- customer/orders/lineitem/events are replicated as self-consistent
  sub-universes: every key column is offset by replica x (domain max
  + 1) CONSISTENTLY across tables (o_custkey moves with c_custkey,
  l_orderkey with o_orderkey), so each replica joins exactly like the
  base data while the tiny dims (nation/region/part/supplier) stay
  shared — fact tables grow, dimension tables don't, which is how a
  real warehouse scales.

It then runs the heavy queries at each scale and fits the per-step
scaling exponent alpha = log(t2/t1) / log(n2/n1).

Near-linear (alpha ~ 1) validates the 100 TB story; alpha >= 1.5 on
any step means a bucketed path is quietly quadratic and SCALE.md's
argument is wrong.

Fixtures are written OUTSIDE the repo (default /tmp/spark_graft_scale)
and are never committed; non-scaled tables are symlinked from the base
fixture so every registry table resolves.

Usage: python tools/scale_rehearsal.py [--base /root/testdata/sf0.1]
       [--factors 3,10] [--out SCALE_SF1.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")

HEAVY = [
    "minhash_lsh_pairs",
    "contamination",
    "pack_sequences",
    "dedup_components",
    # round-5 curation additions with corpus-proportional work
    "unigram_lm_score",
    "doc_chunks",
    "tfidf_top_terms",
    "dsir_select",
    "repeated_ngram_removal",
    "bpe_step",
    # round-6: the composed end-to-end pipeline (the 100 TB user
    # journey) and the relational SURVEY core — the reference's own
    # query shapes, previously argued-not-measured above sf0.1
    "curation_pipeline",
    "flagship_census_count",
    "hierarchical_fallback",
    "interval_containment",
    "join_3way",
    # round-6 additions: the production dedup mode (increment vs
    # corpus — on this fixture every replica is a cross-split
    # near-dup, the adversarial case) and the value-based RANGE
    # window over the replicated event stream
    "incremental_dedup",
    # round-7: the amortized production mode — reference artifacts
    # persisted to parquet once (built during the harness's warm-up
    # call), so the timed run measures only the per-batch increment
    # cost, which is the claim corpus_artifacts' docstring makes
    "incremental_dedup_amortized",
    "trailing_range_agg",
    # round-6 event-analytics family over the replicated stream:
    # chained conditional-min aggs, union+window as-of, per-key grid
    # fill, and the two-agg retention matrix
    "funnel_steps",
    "asof_union_join",
    "resample_ffill",
    "cohort_retention",
    # the SCD2 family over the replicated relational sub-universes
    "scd2_merge",
    "point_in_time_join",
    # round-6 widening batch: corpus-proportional members (novelty =
    # digest-df join, CMS = sketch build over the full token stream,
    # inverted index = two-stage posting build; covariance = d(d+1)/2
    # explode over every vector).  triangle_count is deliberately
    # excluded for the same reason as semantic_dedup: on this fixture
    # every replica is a near-dup of the base, so the candidate
    # graph's EDGE count itself grows ~f^2 and triangles ~f^3 — the
    # exponent would measure the fixture's clique growth, not the
    # plan (the degree-ordered orientation's wedge bound is pinned by
    # pytest instead)
    "novelty_score",
    "cms_heavy_hitters",
    "inverted_index",
    "embedding_covariance",
    # batches 2-5 of the widening: retrieval scoring and the
    # information-theoretic corpus statistics (linear token-stream
    # aggregates), the event rollups (lag window / bucketed candles
    # over the replicated stream), and the relational stats pair.
    # tfidf_doc_similarity joins triangle_count in the documented
    # exclusion: cross-replica twins share their banded vectors, so
    # qualifying pairs grow ~f² by fixture construction.
    "bm25_score",
    "token_entropy",
    "pmi_collocations",
    "source_kl",
    "ohlc_bucket",
    "transition_matrix",
    "histogram",
    "corr_matrix",
    "weighted_sample",
    "pagerank",
    # batch 6+ of the widening: robust stats, period comparison,
    # engagement metrics, retrieval fusion, and the skew diagnosis
    "winsorize",
    "benford",
    "gini_tokens",
    "period_over_period",
    "rolling_active_users",
    "hybrid_retrieval",
    "key_skew_profile",
    "copurchase_pairs",
    "twap",
    "cusum_drift",
    "events_daily_overview",
    "duplicate_passages",
    "fulfillment_latency",
    "revenue_pareto",
    "model_quality_filter",
    "source_overlap",
    "frequency_spectrum",
    # r11 verdict watch item (r12 task 3): the round-11 stats rows
    # with multi-scan plans — loso re-scans documents per aggregate
    # table, cronbach/seasonal-MK re-scan per item/season
    "loso_mixture_weights",
    "cronbach_alpha",
    "seasonal_mann_kendall",
    # r12: the composed training-shard pipeline (headline end-to-end
    # journey — dedup digest shuffle + checkpoint + pack window)
    "training_shard_pipeline",
    "eval_safe_split_plan",
    "cdc_roundtrip",
    "source_health",
    "multimodal_roundtrip",
    "diverse_retrieval",
    # r12: first streaming scale row — the chained-stateful plan
    # (dedup state grows with distinct event_ids, window state stays
    # hour-bounded; the drain is AvailableNow so the rehearsal times
    # a complete stream replay per factor)
    "streaming_shard_feed",
    # round-7 widening: mixing schedule, calibration metrics, drift —
    # all bucket-collapsed shapes whose windows run over value
    # cardinality, so alphas should be flat-to-sublinear
    "temperature_mix",
    "pr_threshold_sweep",
    "roc_auc",
    "ks_drift",
    # round-7: the distributed prefix-sum rank forms vs their
    # single-task-window siblings — the A/B that shows the scale path
    # holds results constant while removing the one-core stage.  On
    # local[32] the window forms won't collapse (one machine sorts
    # either way); the claim under test is that the distributed forms
    # cost no more and stay linear, so the 1000-executor argument is
    # a free swap.
    "quality_deciles",
    "quality_deciles_distributed",
    "roc_auc_distributed",
    # round-7 widening batch 2: the bounded-basket rules self-join
    # (fan-out-capped like copurchase), the tall-skinny centroid
    # drift reduction, and the two-sample tests (bucket-collapsed —
    # expect flat-to-sublinear)
    "association_rules",
    "embedding_label_drift",
    "mann_whitney",
    "rfm_segments",
    # round-9: the slow-tail rehearsal the r8 verdict asked for.
    # percentiles (histogram-exact quantiles) and the xxhash64
    # MinHash fast path are plain corpus-linear shapes.
    # tfidf_doc_similarity and triangle_count are measured DESPITE
    # the fixture's known pair inflation (cross-replica twins share
    # banded vectors / LSH buckets, so qualifying pairs grow ~f² BY
    # CONSTRUCTION) — the rows_by_factor column IS the named cause:
    # read time alongside output rows, and see the
    # tfidf_stage_candidates row for the candidate volume the df
    # band actually admits, measured not argued.
    "percentiles",
    "minhash_lsh_pairs_fast",
    "tfidf_doc_similarity",
    "triangle_count",
    # round-9 relational additions: CDC apply (full-outer key join,
    # orders-derived changelog grows with the fixture) and the
    # incremental rollup refresh (aggregate-sized merge)
    "cdc_apply",
    "rollup_merge",
    # round-9 widening batch 2: the iterative graph ops (peel /
    # frontier loops — round count, not corpus size, is the risk; the
    # fixture replication adds disjoint replicas so the peel depth
    # stays that of one replica), the bounded-window EWMA (aggregate
    # collapses first — expect flat), and multi-touch attribution
    # (one user-keyed window sweep — expect corpus-linear)
    "kcore",
    "bfs_hops",
    "ewma",
    "linear_attribution",
    # weighted Bellman–Ford twin of bfs_hops: same round-latency
    # regime expected (hop cap fixes the round count; each round's
    # join/min-agg work is corpus-linear)
    "shortest_paths",
    # fixed-round plurality propagation (3 joins + 3 counts) and the
    # gaps-and-islands distinct-first window — both expected
    # corpus-linear at worst
    "label_spreading",
    "streaks",
    # global prefix-min skyline (two-phase range recipe) and the
    # per-key interval coalesce — both expected corpus-linear
    "skyline",
    "merge_intervals",
    # weighted order statistic (distinct-value collapse first) and the
    # one-aggregate CUPED moments — expect corpus-linear / flat
    "weighted_median",
    "cuped",
    # privacy audit (one hash agg) and PSI (distinct-value collapse +
    # arithmetic binning) — expect flat-to-linear
    "k_anonymity",
    "psi_drift",
    # seeded random-walk proximity: three sparse join+sum rounds over
    # the dimension-bounded bipartite graph — expect flat like
    # label_spreading
    "personalized_pagerank",
    # user-keyed lag window + type^3-bounded census
    "common_paths",
    # semantic_dedup is deliberately excluded: with the oracle-pinned
    # k=8 centroids its within-cluster pair cost is quadratic in
    # cluster size BY DESIGN (SemDeDup scales k with the corpus; a
    # fixed-k rehearsal would measure the paper's known quadratic,
    # not a plan defect)
    #
    # round-9 widening batches 4-5: event-pattern matching, burstiness
    # and audience-turnover windows (all one-keyed-window shapes —
    # expect corpus-linear), the survival/DiD/FK aggregates (collapse-
    # first — expect flat-to-linear), and the wedge-join link-
    # prediction family.  CAVEAT for the wedge ops (the tfidf/
    # triangle_count precedent): part is a SHARED dimension, so
    # replicated orders multiply every co-purchase pair's SUPPORT —
    # the support-thresholded graph densifies with the fixture
    # rather than replicating disjointly.  rows_by_factor names the
    # effect (clustering_coeff 10 → 20k nodes at x3 is graph
    # densification, not plan blow-up; the flat x3→x10 step is the
    # plan's own scaling once the graph saturates).
    "sequence_match",
    "interarrival",
    "audience_overlap",
    "kaplan_meier",
    "fk_integrity",
    "diff_in_diff",
    "neighbor_jaccard",
    "adamic_adar",
    "clustering_coeff",
    "zipf_slope",
    "rolling_corr",
    # batch-C compositions: per-doc keyword tagging (corpus-linear TF
    # + per-doc window), the ln-ln elasticity regression (one regr_*
    # aggregate pass), and the two-stage demand-moments rollup
    "doc_keywords",
    "price_elasticity",
    "safety_stock",
    # batch D: Dunning G² keyness (vocabulary-sized counts + rank
    # window — expect flat) and reciprocal-best-match over the
    # fixed-size probe pool (pool is constant, corpus term absent —
    # expect flat)
    "term_keyness",
    "mutual_topk",
    # batch E: the log-rank survival comparison and the seasonal
    # residual monitor (daily-rollup-sized windows — expect flat) and
    # the new-vs-returning growth accounting (distinct collapse +
    # per-user min — expect corpus-linear in the collapse only)
    "log_rank",
    "seasonal_anomaly",
    "new_vs_returning",
    # batch F: the FP&A revenue bridge and conversion z (one
    # conditional aggregate each — expect flat), the per-key linear
    # interpolation grid (grid size data-bounded), and the cohort
    # decay fit (cohort-sized aggregates)
    "price_volume_mix",
    "resample_interpolate",
    "conversion_ztest",
    "retention_halflife",
    # the spatial grid join: candidate volume = pairs sharing a cell
    # neighborhood; the replicated customer universe grows the left
    # side linearly while the supplier dim stays shared
    "geo_nearest",
    # lag-exploded daily cross-correlation (calendar-sized join) and
    # the linear-by-construction sorted-neighborhood blocking
    "lead_lag_corr",
    "sorted_neighborhood",
    # grid proximity graph -> CC composition (single-linkage spatial
    # clustering).  CAVEAT (the shared-dim precedent): replicas share
    # ONE map, so the fixture raises point DENSITY rather than map
    # area — proximity pairs grow ~f² by construction and single-
    # linkage percolates into one world-spanning cluster
    # (rows_by_factor: 1 cluster at every factor).  Real scale-up
    # adds regions, keeping density (and the grid join's per-cell
    # cost) flat; the alpha here measures the fixture's percolation,
    # not the plan.
    "spatial_clusters",
    # SN-blocked ER twin of entity_resolution: window*N candidates by
    # construction + the CC closure (driver-finish regime on the
    # fixture-sized pair graphs)
    "entity_resolution_sn",
    # calendar-sized prefix-sum changepoint + per-user conversion
    # latency percentiles (collapse-first) — expect flat
    "best_changepoint",
    "conversion_latency",
    # STL-lite decomposition / percent-of-parent / DAU-MAU — all
    # calendar- or dimension-sized rollups off one corpus scan
    "weekly_decomposition",
    "share_of_parent",
    "stickiness",
    # Wilson-bound ranking (one conditional aggregate) and the
    # fan-out-capped co-purchase rank table
    "supplier_reliability",
    "also_bought_topk",
    # round-10 widening: inequality/concentration aggregates (theil,
    # hhi — collapse-first, expect flat-to-linear), the distributed
    # prefix-sum ABC classification (two range shuffles, expect
    # linear in the part collapse — part is a SHARED dim, so output
    # rows stay constant while the lineitem collapse scales),
    # median/MAD anomaly days + ACF + Brown smoothing (calendar-sized
    # series off one corpus scan — expect corpus-linear in the
    # collapse only), the 100× explode Poisson bootstrap (pure
    # codegen explode+agg, THE corpus-proportional stress — expect
    # linear), CUBE (4× grouping-sets scan), HITS (6 edge joins over
    # the bipartite purchase graph; edges replicate linearly — parts
    # are shared but each replica's customers contribute disjoint
    # (cust, part) edges), and item-item cosine CF (within-order
    # self-join like copurchase_pairs — pair SUPPORT multiplies with
    # replicas on the shared part dim, same named caveat)
    "theil_inequality",
    "hhi_concentration",
    "pareto_abc",
    "robust_zscore",
    "acf_daily",
    "holt_trend",
    "poisson_bootstrap",
    "cube_shares",
    "hits_scores",
    "item_similarity_cf",
    # round-10 widening batch 2: the Theil–Sen pair join is calendar-
    # bounded per type (expect flat); Lorenz/RFM/sequence_gaps ride
    # the two-phase global prefix machinery (expect linear in the
    # collapse); cohort retention is a distinct-(user,month) collapse
    # (expect corpus-linear); association_rules shares the
    # copurchase wedge caveat (shared part dim — support densifies);
    # containment/negative-sampling are corpus-linear inverted-index /
    # vocabulary collapses with the df-cap bounding pair volume
    "theil_sen",
    "lorenz_curve",
    "containment_dedup",
    "negative_sampling",
    "rfm_segments_distributed",
    "sequence_gaps",
    # portable HLL (one hash agg, shuffle bounded by 2^p per group)
    # and the per-field survivorship aggregate (one max_by pass)
    "hll_distinct",
    "golden_record",
    # round-10 widening batch 3: bloom probe is map-side (expect
    # fact-linear with a constant 8 KiB broadcast); drawdown is one
    # window shuffle on user_id (expect linear); salted agg is two
    # bounded hash aggregates (expect linear, salt fan-out constant)
    "bloom_semi_join",
    "max_drawdown",
    "salted_hot_agg",
    # round-10 widening batch 4: register tables are 2^p-bounded per
    # set (expect flat collapse over a linear scan); ntile window is
    # one shuffle (expect linear); the PCA covariance reduction is
    # d(d+1)/2-bounded (expect linear scan, constant driver solve)
    "hll_audience_algebra",
    "quantile_normalize",
    "pca_top_component",
    # round-10 widening batch 5: both sides of the join-size sketch
    # reduce to depth x width cells (expect scan-linear, flat
    # collapse); l-diversity is one quasi-column hash aggregate
    "join_size_estimate",
    "l_diversity",
    # round-10 widening batch 6/7: spearman's rank joins shuffle on
    # (group, value) so volume is row-linear (expect ~linear);
    # anova/kruskal/mutual-info/info-gain collapse to dimension-sized
    # cell tables after one scan (expect flat-to-sublinear); the
    # t-closeness grid is |QI|x|bands| regardless of rows; vwap is one
    # hash aggregate
    "spearman_corr",
    "anova_f",
    "kruskal_wallis",
    "t_closeness",
    "vwap",
    "mutual_information",
    "feature_info_gain",
    # round-10 widening batch 8: kendall's cell-pair join is bounded
    # by the value domain squared regardless of rows (expect flat
    # collapse over a linear scan); EB shrinkage is two chained
    # entity-sized aggregates
    "kendall_tau",
    "empirical_bayes_rates",
    # round-10 widening batches 9/10: levene/jarque-bera/srm collapse
    # to k-group moment rows after one scan (expect flat-to-sublinear
    # over a linear scan); runs/bollinger/rsi window over DAY-grain
    # series whose length is fixture-constant (expect flat);
    # assortativity is edge-linear after the basket self-join;
    # expectation_audit is ONE scan regardless of suite size;
    # semantic_outlier is rows x dim; target_encode is one category
    # aggregate broadcast back; dp counts collapse to k rows
    "levene_variance",
    "jarque_bera",
    "runs_test",
    "bollinger_bands",
    "rsi_indicator",
    "degree_assortativity",
    "expectation_audit",
    "semantic_outlier",
    "srm_check",
    "target_encode",
    "dp_noisy_counts",
    # round-10 widening batches 11/12: the inference sweep collapses
    # to k arms (flat); harmonic centrality's labeled BFS is
    # O(seeds x edges-within-cap) and the seed count grows with the
    # replicated part domain (expect ~linear); rolling_slope/melt run
    # over day-grain or k-row collapses (flat)
    "rate_ztest_sweep",
    "multiple_testing",
    "harmonic_centrality",
    "rolling_slope",
    "melt_metrics",
    # round-10 widening batch 13: forecast scoring and survey stats
    # collapse to k rows (flat); gains sorts the user table (grows
    # with users, one-partition exact-rank surface, expect ~linear);
    # readability is a pure regexp scan (linear in text volume)
    "forecast_accuracy",
    "cumulative_gains",
    "weighted_mean_ess",
    "readability",
    # round-10 widening batch 14: the BOM tree grows with the part
    # domain (edge-linear per level); prorate windows over per-order
    # line groups (row-linear); topk_others windows over (flag, part)
    # label cardinality
    "bom_rollup",
    "prorate_order_lines",
    "topk_others",
    # round-10 widening batch 15: conformal collapses residuals to a
    # value histogram (flat-to-sublinear over a linear scan); qini
    # sorts the user table (exact-rank surface, ~linear)
    "conformal_interval",
    "qini_curve",
    # round-10 widening batch 16: both collapse to (period, item) /
    # item cells in one scan (flat-to-sublinear)
    "price_index",
    "xyz_classification",
    # round-10 widening batch 17: all three collapse to k-row moment
    # tables after one scan (flat-to-sublinear); rmst windows over
    # the distinct-duration KM table
    "ols2_trend",
    "partial_corr",
    "rmst_survival",
    # round-10 widening batch 18: sentence chunking and
    # pseudonymization are pure codegen scans (linear, no shuffle);
    # dp sums collapse to k rows
    "sentence_chunks",
    "pseudonymize_keys",
    "dp_noisy_sum",
    # round-10 widening batch 19: time-decay rides the one-window
    # attribution shape (row-linear); MMR's per-round work is bounded
    # by candidates x queries (flat in corpus size)
    "time_decay_attribution",
    "mmr_rerank",
    # round-10 widening batch 20: kappa/V collapse to contingency
    # cells, losses/GOF/effect sizes to one conditional aggregate
    # (all flat-to-sublinear over a linear scan); mann_kendall's pair
    # join is month-grain bounded per group (flat)
    "cohens_kappa",
    "classification_loss",
    "woe_iv",
    "mann_kendall",
    # round-10 widening batch 21: PH/control-chart window over the
    # DAY-grain series (fixture-constant length — expect flat over a
    # linear collapse); NA shares KM's distinct-duration collapse
    "page_hinkley",
    "nelson_aalen",
    "control_chart",
    "cramers_v",
    "cohens_d",
    # round-10 widening batch 22: burstiness is one lag window + one
    # aggregate on the user key (row-linear); ECE collapses to 10
    # bins; RBO's spine is k x groups (flat over the part collapse)
    "burstiness",
    "chisq_gof",
    "ece_calibration",
    "rbo_overlap",
    # round-10 widening batch 23: croston windows over per-part
    # demand series (row-linear in the collapse); rocchio/silhouette
    # are corpus x k-centroid broadcast meets (row-linear, constant
    # build side)
    "croston_forecast",
    "rocchio_assign",
    "centroid_silhouette",
    # round-10 widening batch 24: capture-recapture and unseen-mass /
    # heaps are shingle- or vocabulary-collapse shapes (linear scan,
    # sublinear shuffle); co-occurrence pairs are bounded by the
    # event-type domain squared
    "capture_recapture",
    "unseen_mass",
    "cooccurrence_lift",
    "heaps_law",
    # round-10 widening batch 25: mcnemar/odds collapse to four cells,
    # fleiss to (item, cat) cells, DW to day-grain windows, trimmed
    # mean to one rank window on the group key (row-linear)
    "mcnemar",
    "fleiss_kappa",
    "durbin_watson",
    "trimmed_mean",
    # round-10 widening batch 26: stump collapses to the value domain,
    # msprt/OR/balance to one conditional aggregate each (flat over a
    # linear scan)
    "decision_stump",
    "msprt_ab",
    "odds_ratio",
    "covariate_balance",
    # round-10 widening batch 27: tail_risk is one rank window on the
    # group key (row-linear); FE is three keyed mean collapses + one
    # aggregate; RR is a four-cell aggregate (flat)
    "tail_risk",
    "fixed_effects",
    "relative_risk",
    # round-10 widening batch 29: entropy/ratio collapse to incidence
    # or unit tables (row-linear); markov backtest is one lag window +
    # a state-domain-squared policy; peaks are day-grain windows
    "behavior_entropy",
    "markov_next_accuracy",
    "local_peaks",
    "ratio_metric_ci",
    # round-10 widening batch 30: journey edges are one window pass on
    # the entity key; the absorbing-chain solves are driver-side on
    # the (k+2)^2 cell table (constant in corpus size)
    "markov_attribution",
    # round-10 widening batch 31: FD audit is two stacked collapses;
    # histogram2d is a bins^2-bounded cell count; QTE is one rank
    # window per arm (row-linear)
    "fd_audit",
    "histogram2d",
    "quantile_treatment_effect",
    # round-10 widening batch 32: profit sweep collapses to the score
    # domain; weighted kappa to contingency cells; ABC-XYZ joins two
    # part-sized classifier outputs
    "profit_curve",
    "weighted_kappa",
    "abc_xyz_matrix",
    # round-10 widening batch 33: winnowing is a w-bounded explode +
    # window-keyed min; pairing is df-capped hash groups (<= max_df^2
    # fan-out per group by construction)
    "winnow_overlap",
    # round-10 widening batch 34: LOO by subtraction — two vocab-sized
    # count tables; the scoring grid is sources x eval-vocab (bounded)
    "loso_source_value",
    # round-10 widening batch 35: one conditional aggregate + scalar
    # planning math; holm runs over the k-row statistic table
    "ab_power_plan",
    "holm_sweep",
    # round-10 widening batch 36: both collapse to (item, treatment)
    # cells; friedman rank windows run over k-row blocks
    "cochran_q",
    "friedman",
    # round-10 widening batch 37: value-bucket collapse + one window;
    # EWMA chart is the bit-exact smoother + broadcast moments
    "cliffs_delta",
    "ewma_control_chart",
]

ALL_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Wedge-join link prediction re-measured on the DISJOINT fixture
# (round-9 verdict task 5): on the shared-dim fixture the co-purchase
# graph DENSIFIES with the factor and the max_degree hub governor
# prunes the densified graph entirely (rows_by_factor 2173 → 0 at
# x3/x10 — a vacuous rehearsal).  The disjoint fixture replicates
# part/supplier WITH lineitem (l_partkey/l_suppkey offset per
# replica), so each replica's co-purchase graph is an exact disjoint
# copy of the base graph: degrees stay at base level, the governor
# passes the same per-replica structure, and rows_by_factor grows
# ~f× — the alpha then measures the wedge join itself, which is the
# claim that needs certifying.  This is ALSO the realistic shape: a
# catalog 10× the size has 10× the parts, not 10× the support per
# part pair.
DISJOINT_HEAVY = [
    "neighbor_jaccard",
    "adamic_adar",
    "clustering_coeff",
    "item_similarity_cf",
    # round-11 task 5: incremental dedup's x10->x30 exponent read 1.49
    # on the near-dup fixture — attributed to the fixture densifying
    # candidate pairs superlinearly (every replica near-dups every
    # other), not to the plan.  The disjoint fixture's documents are
    # per-replica Caesar-rotated, so cross-replica shingle overlap is
    # ZERO and candidate pairs grow ~f x: the exponent then measures
    # the banding join itself, which is the 100 TB claim.
    "incremental_dedup",
    "incremental_dedup_amortized",
    # round-11 task 6 follow-up: on the SHARED-dim fixture the
    # part-supplier graph never grows (rows_by_factor constant at
    # 21000 for both rows below — only the lineitem scan scales), so
    # the iterative-frontier cost had no measured point.  The disjoint
    # fixture replicates part/supplier with lineitem: nodes, edges AND
    # seeds all grow ~f x, each seed's BFS stays inside its own
    # replica, so the expected exponent is ~1 (per-round hash joins on
    # f x tables) and anything materially above 1 means frontier
    # state is leaking across rounds.
    "harmonic_centrality",
    "shortest_paths",
    # round-13 (r12 verdict task 3): the two composed exhibits whose
    # only x10/x30 evidence was the densifying shared fixture
    # (eval_safe_split_plan alpha=0.81, source_health alpha=0.675 —
    # both bounded above, not measured).  On the disjoint fixture
    # cross-replica shingle overlap is zero, so near-dup clusters /
    # dup panels replicate instead of densifying and the exponent
    # measures the plans (the incremental_dedup closure precedent,
    # r11: 1.49 -> 0.612).
    "eval_safe_split_plan",
    # ...and its three stage rows on the SAME fixture, so the
    # composed exponent decomposes into named stages (banding join /
    # CC rounds / contamination grams) instead of being argued
    "minhash_lsh_pairs",
    "dedup_components",
    "contamination",
    "source_health",
    # round-13 exhibit (r12 verdict task 5): the crawl-refresh loop's
    # scale row — its near-dup stage is increment-vs-standing, which
    # the shared fixture would densify exactly like incremental_dedup
    "crawl_refresh_loop",
]


def _curation_stages():
    """Per-stage builders for curation_pipeline attribution (round-7
    task: its x10 alpha rose 0.30->0.70 and the composed row cannot
    say which stage's constant grows).  Each builder is a PREFIX of
    the composed plan, so (stage k) - (stage k-1) isolates one
    stage's marginal cost at each factor."""
    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.materialize import scope
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import (
        dedup,
        text,
    )

    def stage_dedup(spark, sf_dir):
        d = q.rebalance(q.load_table(spark, sf_dir, "documents"))
        return dedup.exact_dedup(d).select("doc_id")

    def stage_quality_gate(spark, sf_dir):
        # mirrors q_curation_pipeline's fused shape: the narrow scored
        # projection is persisted so the threshold and filter branches
        # share ONE quality_score pass (round-9 fix for the 0.76-alpha
        # double-compute this row diagnosed)
        d = q.rebalance(q.load_table(spark, sf_dir, "documents"))
        en = dedup.exact_dedup(d).filter(F.col("lang") == F.lit("en"))
        with scope() as ms:
            scored = ms.hold(
                text.quality_score(en.select("doc_id", "text"))
                .select("doc_id", "quality")
                .persist()
            )
            thr = scored.agg(
                F.round(
                    F.expr("approx_percentile(quality, 0.5, 1000000)"), 6
                ).alias("__thr")
            )
            return ms.attach(
                scored.crossJoin(F.broadcast(thr)).filter(
                    F.col("quality") >= F.col("__thr")
                )
            )

    def stage_contamination(spark, sf_dir):
        d = q.rebalance(q.load_table(spark, sf_dir, "documents"))
        return text.contamination_flags(
            d,
            d.filter(F.col("doc_id") < q._CONTAM_EVAL_IDS),
            k=q._PIPE_CONTAM_K,
        )

    def tfidf_stage_candidates(spark, sf_dir):
        # candidate VOLUME of the df-banded sparse join, measured:
        # threshold=0 disables the final cosine cut (weights are
        # positive: idf = log(nd/df) with df ≤ nd/10), so the output
        # row count is exactly the pair set the term-keyed join
        # aggregates — the quantity the band cap is supposed to bound
        d = q.rebalance(q.load_table(spark, sf_dir, "documents"))
        return text.tfidf_doc_similarity(
            d.select("doc_id", "text"), threshold=0.0
        )

    return {
        "curation_stage_dedup": stage_dedup,
        "curation_stage_quality_gate": stage_quality_gate,
        "curation_stage_contamination": stage_contamination,
        "tfidf_stage_candidates": tfidf_stage_candidates,
    }


def _replicate_keyed(tbl, factor: int, offsets: dict):
    """Concat ``factor`` copies of ``tbl``; replica r adds
    ``r * offsets[col]`` to each listed key column (vectorized — no
    python-list hop for the 6M-row x10 lineitem)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = [tbl]
    for r in range(1, factor):
        t = tbl
        for col, off in offsets.items():
            i = t.schema.get_field_index(col)
            shifted = pc.add(t.column(col), pa.scalar(r * off, t.schema.field(col).type))
            t = t.set_column(i, t.schema.field(col), shifted)
        parts.append(t)
    return pa.concat_tables(parts)


def build_fixture(base: str, factor: int, root: str) -> str:
    """Replicate documents/embeddings ``factor``x with offset ids and
    perturbed text, and customer/orders/lineitem/events as
    self-consistent key-offset sub-universes; symlink everything else
    from ``base``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out_dir = os.path.join(root, f"x{factor}")
    if os.path.exists(os.path.join(out_dir, "__complete")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    # Relational core: one offset per KEY DOMAIN, shared by every
    # column in that domain so replica joins line up exactly like the
    # base data (an orders row's o_custkey lands on the same replica's
    # customer row).
    cust = pq.read_table(os.path.join(base, "customer.parquet"))
    ords = pq.read_table(os.path.join(base, "orders.parquet"))
    li = pq.read_table(os.path.join(base, "lineitem.parquet"))
    ev = pq.read_table(os.path.join(base, "events.parquet"))
    CUST = pc.max(cust.column("c_custkey")).as_py() + 1
    ORD = pc.max(ords.column("o_orderkey")).as_py() + 1
    EVT = pc.max(ev.column("event_id")).as_py() + 1
    USR = pc.max(ev.column("user_id")).as_py() + 1
    pq.write_table(
        _replicate_keyed(cust, factor, {"c_custkey": CUST}),
        os.path.join(out_dir, "customer.parquet"),
    )
    pq.write_table(
        _replicate_keyed(ords, factor, {"o_orderkey": ORD, "o_custkey": CUST}),
        os.path.join(out_dir, "orders.parquet"),
    )
    # l_partkey/l_suppkey stay untouched: part/supplier are symlinked
    # dims, exactly the shared-dimension shape of a scaled warehouse
    pq.write_table(
        _replicate_keyed(li, factor, {"l_orderkey": ORD}),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    # events keep their timestamps (zones derived per (type, day) stay
    # dimension-sized — the realistic shape); ids offset so rows are
    # distinct
    pq.write_table(
        _replicate_keyed(ev, factor, {"event_id": EVT, "user_id": USR}),
        os.path.join(out_dir, "events.parquet"),
    )

    docs = pq.read_table(os.path.join(base, "documents.parquet"))
    n = docs.num_rows
    cols = {c: docs.column(c).to_pylist() for c in docs.column_names}
    big = {c: [] for c in docs.column_names}
    for r in range(factor):
        for c, vals in cols.items():
            if c == "doc_id":
                big[c].extend(v + r * n for v in vals)
            elif c == "text" and r > 0:
                # deterministic near-dup perturbation: one replica
                # token appended — same LSH buckets, different shingles
                big[c].extend(f"{v} rep{r}" for v in vals)
            else:
                big[c].extend(vals)
    pq.write_table(
        pa.table(big, schema=docs.schema), os.path.join(out_dir, "documents.parquet")
    )

    emb = pq.read_table(os.path.join(base, "embeddings.parquet"))
    m = emb.num_rows
    ecols = {c: emb.column(c).to_pylist() for c in emb.column_names}
    ebig = {c: [] for c in emb.column_names}
    id_col = "vec_id"
    assert id_col in ecols, f"embeddings schema changed: {emb.column_names}"
    for r in range(factor):
        for c, vals in ecols.items():
            if c == id_col:
                ebig[c].extend(v + r * m for v in vals)
            else:
                ebig[c].extend(vals)
    pq.write_table(
        pa.table(ebig, schema=emb.schema), os.path.join(out_dir, "embeddings.parquet")
    )

    for t in ALL_TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base, f"{t}.parquet"), dst)
    open(os.path.join(out_dir, "__complete"), "w").close()
    return out_dir


def build_disjoint_fixture(base: str, factor: int, root: str) -> str:
    """Disjoint-replication variant for the wedge-join family: part and
    supplier replicate WITH the fact tables (l_partkey / l_suppkey
    offset per replica), so the co-purchase graph is ``factor`` exact
    disjoint copies of the base graph instead of one densified graph.
    Only the relational core is materialized; everything else symlinks
    from ``base``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out_dir = os.path.join(root, f"x{factor}_disjoint")
    if os.path.exists(os.path.join(out_dir, "__complete")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    cust = pq.read_table(os.path.join(base, "customer.parquet"))
    ords = pq.read_table(os.path.join(base, "orders.parquet"))
    li = pq.read_table(os.path.join(base, "lineitem.parquet"))
    part = pq.read_table(os.path.join(base, "part.parquet"))
    supp = pq.read_table(os.path.join(base, "supplier.parquet"))
    CUST = pc.max(cust.column("c_custkey")).as_py() + 1
    ORD = pc.max(ords.column("o_orderkey")).as_py() + 1
    PART = pc.max(part.column("p_partkey")).as_py() + 1
    SUPP = pc.max(supp.column("s_suppkey")).as_py() + 1
    pq.write_table(
        _replicate_keyed(cust, factor, {"c_custkey": CUST}),
        os.path.join(out_dir, "customer.parquet"),
    )
    pq.write_table(
        _replicate_keyed(ords, factor, {"o_orderkey": ORD, "o_custkey": CUST}),
        os.path.join(out_dir, "orders.parquet"),
    )
    pq.write_table(
        _replicate_keyed(part, factor, {"p_partkey": PART}),
        os.path.join(out_dir, "part.parquet"),
    )
    pq.write_table(
        _replicate_keyed(supp, factor, {"s_suppkey": SUPP}),
        os.path.join(out_dir, "supplier.parquet"),
    )
    pq.write_table(
        _replicate_keyed(
            li,
            factor,
            {"l_orderkey": ORD, "l_partkey": PART, "l_suppkey": SUPP},
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    # documents: per-replica Caesar rotation of [a-z0-9] — every char
    # shingle containing an alphanumeric differs across replicas, so
    # cross-replica MinHash/LSH candidate pairs are ~zero and each
    # replica near-dups only within itself (the "new crawl snapshot"
    # shape, vs build_fixture's adversarial everyone-near-dups-
    # everyone perturbation)
    import pyarrow as pa

    docs = pq.read_table(os.path.join(base, "documents.parquet"))
    n = docs.num_rows
    cols = {c: docs.column(c).to_pylist() for c in docs.column_names}
    alpha = "abcdefghijklmnopqrstuvwxyz"
    digits = "0123456789"
    big = {c: [] for c in docs.column_names}
    for r in range(factor):
        if r > 0:
            rot = str.maketrans(
                alpha + alpha.upper() + digits,
                alpha[r % 26:] + alpha[: r % 26]
                + (alpha[r % 26:] + alpha[: r % 26]).upper()
                + digits[r % 10:] + digits[: r % 10],
            )
        for c, vals in cols.items():
            if c == "doc_id":
                big[c].extend(v + r * n for v in vals)
            elif c == "text" and r > 0:
                big[c].extend(v.translate(rot) for v in vals)
            else:
                big[c].extend(vals)
    pq.write_table(
        pa.table(big, schema=docs.schema),
        os.path.join(out_dir, "documents.parquet"),
    )

    for t in ALL_TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base, f"{t}.parquet"), dst)
    open(os.path.join(out_dir, "__complete"), "w").close()
    return out_dir


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--factors", default="3,10")
    ap.add_argument("--out", default="/root/repo/SCALE_SF1.json")
    ap.add_argument("--root", default="/tmp/spark_graft_scale")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated subset of HEAVY to measure; existing rows "
        "in --out are preserved (merge), so a new operator can be added "
        "without re-running the full suite",
    )
    args = ap.parse_args()
    factors = [int(f) for f in args.factors.split(",")]
    stages = _curation_stages()
    heavy = HEAVY + list(stages)
    disjoint = [f"{n}@disjoint" for n in DISJOINT_HEAVY]
    if args.only:
        only = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = set(only) - set(HEAVY) - set(stages) - set(disjoint)
        assert not unknown, f"--only names not in HEAVY: {unknown}"
        heavy = [n for n in only if n in set(HEAVY) | set(stages)]
        disjoint = [n for n in only if n in disjoint]

    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        release_components,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark

    spark = get_spark("scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df) -> int:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
        ).collect()[0]
        return row["n"]

    points: list[tuple[int, str]] = [(1, args.base)] if heavy else []
    for f in factors if heavy else []:
        print(f"# building x{f} fixture...", file=sys.stderr)
        points.append((f, build_fixture(args.base, f, args.root)))

    dpoints: list[tuple[int, str]] = [(1, args.base)]
    if disjoint:
        for f in factors:
            print(f"# building x{f} disjoint fixture...", file=sys.stderr)
            dpoints.append((f, build_disjoint_fixture(args.base, f, args.root)))

    results: dict[str, dict] = {
        name: {"times": {}, "rows": {}} for name in heavy + disjoint
    }
    for factor, sf_dir in dpoints if disjoint else []:
        for dname in disjoint:
            name = dname.split("@")[0]
            fn = q.QUERIES.get(name) or q.AUX_QUERIES[name]
            df = fn(spark, sf_dir)
            materialize(df)
            release_components(df)
            t0 = time.time()
            df = fn(spark, sf_dir)
            rows = materialize(df)
            dt = time.time() - t0
            release_components(df)
            spark.catalog.clearCache()
            results[dname]["times"][factor] = round(dt, 3)
            results[dname]["rows"][factor] = rows
            print(
                f"# x{factor} {dname}: {dt:.2f}s ({rows} rows)",
                file=sys.stderr,
            )

    for factor, sf_dir in points:
        for name in heavy:
            fn = q.QUERIES.get(name) or q.AUX_QUERIES.get(name) or stages[name]
            # cold warm-up, then one timed run (these are long; the
            # signal is the cross-scale RATIO, not the absolute value)
            df = fn(spark, sf_dir)
            materialize(df)
            release_components(df)
            t0 = time.time()
            df = fn(spark, sf_dir)
            rows = materialize(df)
            dt = time.time() - t0
            release_components(df)
            spark.catalog.clearCache()
            results[name]["times"][factor] = round(dt, 3)
            results[name]["rows"][factor] = rows
            print(
                f"# x{factor} {name}: {dt:.2f}s ({rows} rows)", file=sys.stderr
            )

    # merge: preserve rows for operators not measured this run
    record: dict[str, dict] = {}
    if args.only and os.path.exists(args.out):
        with open(args.out) as fh:
            record = {k: v for k, v in json.load(fh).items() if k != "_meta"}
    for name in heavy + disjoint:
        times = results[name]["times"]
        exps = {}
        fs = sorted(times)
        for a, b in zip(fs, fs[1:]):
            if times[a] > 0:
                exps[f"x{a}->x{b}"] = round(
                    math.log(times[b] / times[a]) / math.log(b / a), 3
                )
        record[name] = {
            "seconds_by_factor": {f"x{f}": t for f, t in times.items()},
            "rows_by_factor": {f"x{f}": r for f, r in results[name]["rows"].items()},
            "scaling_exponent": exps,
        }
    record["_meta"] = {
        "base": args.base,
        "factors": factors,
        "note": (
            "factor-f fixture = sf0.1 documents/embeddings replicated f "
            "times with offset ids and near-dup text perturbation, plus "
            "customer/orders/lineitem/events replicated f times as "
            "self-consistent key-offset sub-universes over shared dims; "
            "'name@disjoint' rows instead use the disjoint fixture "
            "(part/supplier replicated WITH lineitem key offsets, so "
            "the co-purchase graph replicates disjointly rather than "
            "densifying — non-vacuous wedge-join rehearsals); "
            "alpha = log(t2/t1)/log(n2/n1) per step; ~1 linear, >=1.5 "
            "superlinear"
        ),
    }
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v.get("scaling_exponent") for k, v in record.items() if k != "_meta"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
