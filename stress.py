#!/usr/bin/env python
"""10x stress sweep — the round-loop scale regression check (SCALING.md).

Generates (once, idempotent) a key-remapped 10x composite of the sf0.1
fixtures under $SPARK_GRAFT_STRESS_DIR (default /tmp/spark_graft_stress10x)
and runs the bench headline against it, printing ONE JSON line like
bench.py. Key remapping (replica i shifts every entity key by i*stride)
makes join/agg key cardinality genuinely grow 10x — plain row duplication
would only deepen groups and flatter-than-real shuffles would hide AQE
strategy regressions. Timestamps are kept so time-bucket grids stay
fixed (events volume grows within the same span, like a real firehose);
document text is kept so each doc becomes a 10-way exact-duplicate group
(the worst case the dedup family is designed to bound); fixed-cardinality
dims (region, nation) are NOT replicated.

Usage:  python stress.py            # generate-if-missing + run sweep
        python stress.py --regen    # force corpus regeneration
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from agent_data_pipeline_spark.fns import release_persists
from agent_data_pipeline_spark.hostinfo import cpu_probe, host_load
from agent_data_pipeline_spark.queries import REGISTRY
from agent_data_pipeline_spark.session import get_spark
from bench import HEADLINE

REPLICAS = 10
STRIDE = 1_000_000_000  # far above any sf0.1 key

# table -> columns to shift by replica*STRIDE (entity keys); every other
# column is carried unchanged. region/nation are fixed-cardinality dims.
_KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_COPY_TABLES = ("region", "nation")


def _read(spark, src, name):
    if name == "events":
        from agent_data_pipeline_spark.queries.core import read_events

        return read_events(spark, f"{src}/events.parquet")
    return spark.read.parquet(f"{src}/{name}.parquet")


def generate(spark, src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in _COPY_TABLES:
        _read(spark, src, name).write.mode("overwrite").parquet(
            f"{dst}/{name}.parquet"
        )
    for name, keys in _KEY_COLS.items():
        base = _read(spark, src, name)
        replicas = base.crossJoin(
            spark.range(REPLICAS).select(F.col("id").alias("_rep"))
        )
        for k in keys:
            replicas = replicas.withColumn(k, F.col(k) + F.col("_rep") * STRIDE)
        (
            replicas.drop("_rep")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{dst}/{name}.parquet")
        )


def composed_neardup(spark, sf_dir: str) -> dict:
    """The documented production order for duplicate-heavy corpora:
    exact_dedup FIRST (hash window, linear — collapses the m-way exact
    duplicate groups that make pair output O(m²)), then minhash_lsh_pairs
    over unique representatives only. Returns wall-clock + pair count so
    the round loop can verify the composition keeps near-dup mining
    near-linear on a corpus where the direct path is measured ~18x."""
    from pyspark.sql import Window

    from agent_data_pipeline_spark.llmdata import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.perf_counter()
    # representative row (min id) per distinct content, keeping text:
    # one shuffle on the fingerprint, no join-back
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    uniq = (
        dedup.fingerprint(docs)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )
    pairs = dedup.minhash_lsh_pairs(
        uniq, num_hashes=64, bands=16, shingle_n=1, threshold=0.7
    )
    n_pairs = pairs.count()
    return {"sec": round(time.perf_counter() - t0, 3), "pairs": n_pairs}


# Round-3 operators, measured at base AND 10x with their own ratio: all
# are linear per-row (codec/regex/passage explode) or vocabulary-bounded
# (unigram join) or cell-bounded (semantic dedup) by design — the sweep
# proves the measured growth stays at/below the data ratio instead of
# asserting it. Kept separate from HEADLINE so bench totals stay
# comparable round-over-round.
R3_OPS = [
    "passage_dedup_stats",
    "semantic_dedup_summary",
    "html_strip_kit",
    "url_parse_kit",
    "unigram_logprob_scores",
]

# Round-4 operators: pipeline ops (one-join/one-scan shapes asserted in
# test_plans.py), analytics compositions (windows + equi-joins), and the
# two corpus ops whose joins are vocabulary-bounded. Expected growth is
# the data ratio everywhere; the sweep proves it.
R4_OPS = [
    "expectations_audit",
    "snapshot_diff_summary",
    "scd2_pointintime_join",
    "source_cap_sample",
    "pmi_top_bigrams",
    "incremental_rollup",
    "funnel_conversion",
    "retention_cohorts",
    "time_weighted_avg",
    "counter_deltas",
    "mad_outliers",
    "skew_report",
    "vocab_encode_stats",
    "triangle_census",
    "chisq_lang_source",
    "approx_quantile_kit",
]

# Round-4 part 6/7 operators (sequence/interval analytics + record
# mastering): islands/windows shuffle on their own key, the overlap
# join is bin-blocked (≤2 bins per 7-day interval), rolling distinct is
# a bounded ≤7-way explode, golden record is one aggregate. Expected
# growth ≤ data ratio; pair-producing ops (copurchase, haversine,
# interval overlap) grow with PAIR count, which the blocking keys bound.
R4C_OPS = [
    "streak_islands",
    "interval_overlap_join",
    "event_transitions",
    "quantile_bins",
    "concurrency_peaks",
    "union_by_name_kit",
    "haversine_kit",
    "rolling_7d_users",
    "golden_record",
    "pareto_revenue",
    "benford_digits",
    "path_3grams",
    "rank_ties_topk",
    "late_dim_fallback",
    "rolling_zscore",
    "checksum_partition_audit",
    "dow_seasonality",
]

# Round-4 part 9/10 operators (customer analytics, finance allocation,
# warehouse integrity, record linkage). RFM/Gini collapse facts to
# customer-dim rows before their global ntile windows (exact-small
# variant — the windows grow with the CUSTOMER count, here 10x, through
# a single-partition sort like quantile_bins); proration windows are
# per-order; the orphan audit is broadcast anti-joins; fuzzy matching
# candidate-generates over DISTINCT names, so a duplicate-heavy 10x
# corpus must NOT grow its Levenshtein join (dedup-first composition —
# the ratio proves it).
R4D_OPS = [
    "rfm_segments",
    "gini_lorenz",
    "proration_penny_split",
    "survival_curve",
    "ab_test_ztest",
    "trend_forecast",
    "sequence_gaps",
    "orphan_audit",
    "fuzzy_part_match",
    "weighted_percentile_kit",
    "corr_matrix",
    "date_spine_fill",
    # part 11: corpus statistics + embedding diagnostics. zipf/readability
    # are linear per-row with vocabulary-bounded windows; containment's
    # oracle slice is fixed (original doc ids only), so its 10x row is a
    # constant-work sanity; pca is one linear moment pass.
    "readability_kit",
    "zipf_fit",
    "embedding_norm_audit",
    "containment_pairs",
    "pca_variance",
    # part 12: CDC apply is anti-join+union on the key; HWM extract is a
    # pushed range predicate; attribution is user-key windows.
    "cdc_apply_summary",
    "hwm_incremental_extract",
    "session_attribution",
    # parts 13-16: fn-surface kits are per-row + one agg; skyline is
    # dim-scale distinct points; boilerplate mirrors the decontamination
    # broadcast shape; knn is query-bounded (fixed original-id Q set).
    "map_transform_kit",
    "regr_builtin_kit",
    "skyline_parts",
    "url_canonical_dedup",
    "boilerplate_line_removal",
    "normalized_exact_dedup",
    "share_of_parent",
    "knn_label_vote",
    # parts 17-18: the incremental refresh is O(batch) by design; the
    # decomposition/CUSUM windows run at day grain.
    "incremental_corpus_refresh",
    "seasonal_decomposition",
    "cusum_changepoint",
    "order_consistency_audit",
    # part 19: month-grain growth windows; latency percentile partials.
    "mom_yoy_growth",
    "ship_latency_percentiles",
    # part 20: capped pair join (copurchase shape); dim-scale rank fusion.
    "degree_distribution",
    "rrf_rank_fusion",
    # part 21: histogram-backed modes/quartiles; cohort-grain windows.
    "mode_imputation",
    "iqr_fences",
    "mean_confidence_intervals",
    "cohort_ltv_curve",
    "dup_cluster_histogram",
    # part 22: single partial-agg moment pass.
    "anova_oneway",
]

# Round-5 operators: the approx-edge scale siblings of RFM/Gini. Unlike
# their exact counterparts (R4D above, which push 10x the customer dim
# through one global ntile window), these score against broadcast
# approx_percentile edges — expected ratio ≤ the data ratio, and the
# sweep shows the two families side by side.
R5_OPS = [
    "rfm_segments_approx",
    "gini_lorenz_approx",
]

# Round-6 operators: stratified floors (map-side big branch + bounded
# small-strata window — expected ~data ratio; at 10x every lang leaves
# the floor path, so the window input actually SHRINKS), bloom pruning
# (two broadcast semi probes + broadcast join — ~data ratio), and the
# IVF high-recall sibling (bounded-sample fit is scale-independent;
# the cell-probe scan grows with data).
R6_OPS = [
    "stratified_split_floors",
    "bloom_prune_kit",
    "ann_ivf_topk_hi",
    # second-wave round-6 additions: BM25 (term-bounded posting list —
    # ~data ratio), hard negatives (same batched-matmul economics as
    # embedding_topk), PSI (one stats scan + 10-row aggregate), BPE
    # (one scan to the word-type table; the 10x corpus duplicates text,
    # so the TYPE table — and the merge loop — does not grow at all).
    "bm25_topk",
    "hard_negative_mining",
    "psi_quality_drift",
    "bpe_merges",
    # third-wave round-6 additions: NB classifier (one token-grouped
    # train agg + broadcast-weight score pass — ~data ratio), mixture
    # plan (one inventory agg — ~data ratio), n-gram novelty (keyed
    # window over the gram stream — ~data ratio; the 10x corpus
    # duplicates text, so novelty collapses toward 0 but the gram
    # volume grows exactly 10x).
    "nb_source_classifier",
    "mixture_budget_plan",
    "ngram_novelty_scores",
    # fourth-wave round-6 additions: BPE encode (the 10x corpus
    # duplicates text so the TYPE table — and the encode work — does
    # not grow; only the (source, word) groupBy sees 10x input), and
    # the filter funnel (one codegen'd scan + a <=5-row aggregate).
    "bpe_encode_stats",
    "quality_filter_funnel",
    # fifth-wave round-6 additions: overlap matrix (distinct grams per
    # source bound the self-join; the 10x corpus adds NO new grams, so
    # past the first distinct the work is flat), DP counts (one agg).
    "source_overlap_matrix",
    "dp_lang_counts",
    # sixth-wave round-6 additions: label propagation (the doc_id<500
    # slice caps the candidate join at any SF — same bound as
    # dup_components), reservoir (one scan + TakeOrdered), group k-fold
    # (one inventory agg + a |sources|-row re-agg).
    "component_label_propagation",
    "weighted_reservoir_sample",
    "group_kfold_assign",
]

# Round-7 operators. First wave (oracled): CMS (vocab-bounded sketch —
# the 10x corpus duplicates text so the vocab/type table does not grow;
# only the token-count agg sees 10x input), KS drift (one stats scan +
# 1000-bin spine), nDCG (|Q|-bounded eval joins over the batched-matmul
# scan), Adamic-Adar (support-pruned adjacency: 10x duplication
# multiplies co-occurrence counts, not distinct pairs — the graph and
# two-hop work stay near-flat), ACF (day-grain series fixed; only the
# daily agg sees 10x), kappa (one scan + |sources|-row agg), Theil-Sen
# (month-grain pairs fixed; only the monthly agg sees 10x). Second wave
# (rows-only): PQ (bounded-sample fit is scale-independent; encode+ADC
# scan grows with data), MMR (pool build = bruteforce economics; greedy
# stays pool^2-bounded), dHash (payload-local kernel + chunk equi-join;
# the fixture is id-sliced so the op itself is scale-fixed — the kernel
# throughput is what the row shows).
R7_OPS = [
    "cms_heavy_hitters",
    "ks_drift_test",
    "ndcg_eval",
    "adamic_adar_links",
    "acf_lags",
    "cohens_kappa",
    "theil_sen_trend",
    "pq_ann_topk",
    "mmr_diverse_topk",
    "image_dhash_neardup",
    # third wave (oracled): CUPED (one user-grain agg — ~data ratio),
    # k-anonymity (one QI-grain agg), log-odds (vocab-bounded — the 10x
    # corpus adds no new types past the token-count agg), BH-FDR
    # (nation-grain, bounded 25-row window).
    "cuped_adjusted_ab",
    "k_anonymity_audit",
    "weighted_log_odds_terms",
    "fdr_bh_tests",
    # fourth wave: Poisson bootstrap (the x100 replicate explode is the
    # one deliberately super-linear-INPUT op — the two-phase replicate
    # agg keeps the shuffle at R rows/partition; expect ~data ratio
    # wall since the explode is map-side), Neyman (one stratum agg),
    # isotonic (one binned agg + bounded PAV group).
    "poisson_bootstrap_ci",
    "neyman_allocation",
    "isotonic_calibration",
    # fifth wave: one-pass embedding diagnostics (explode to
    # (label, dim) — 64x row inflation but a two-phase agg; the
    # norm-materialization fix keeps the per-row cost O(d)).
    "embedding_diversity_by_label",
    "embedding_centroid_shift",
]

R7B_OPS = [
    # sixth wave: MWU (value-grain <=50-row window — expect ~data
    # ratio from the fact-side agg), assoc rules (distinct + bounded
    # self-join on orderkey), PR sweep (19x broadcast grid, one scan),
    # conformal (three split scans + value-grain calib window).
    "mann_whitney_u",
    "assoc_rules_lift",
    "threshold_sweep_pr",
    "conformal_intervals",
    # seventh wave: CEM (cell-grain aggs), rolling OLS (calendar-bounded
    # day grain — 10x adds rows per day, not days), MI (100-cell joint),
    # quantile normalization (value-grain ECDF + 1000-point grid join).
    "cem_att",
    "rolling_ols_slope",
    "mutual_information_lang_source",
    "quantile_normalize_scores",
    # eighth wave: bigram LM (vocab-bounded count tables; 10x corpus
    # repeats the same text so vocab stays flat — join side constant),
    # HHI (customer-grain agg), IPF raking (bounded driver-side fit).
    "bigram_backoff_scores",
    "hhi_concentration",
    "raking_ipf",
    # ninth wave: Spearman (calendar-bounded day grain — 10x adds rows
    # per day, not days), Welch (two hash aggs), Kruskal-Wallis
    # (value-grain rank histogram — flat spine at 10x), Cramer's V +
    # JSD (bounded marginal grids), JW linkage (probe stream x
    # broadcast 64-name catalog — Arrow-batched scorer, linear).
    "spearman_daily_corr",
    "welch_ttest",
    "kruskal_wallis_h",
    "cramers_v_assoc",
    "js_divergence_sources",
    "jaro_winkler_linkage",
    # tenth wave: RAKE (doc-partitioned islands + vocab-bounded word
    # scores), MDE (segment aggs), l-diversity (cell-grain aggs +
    # per-customer argmax window), spectral peak (payload-local FFT —
    # pure map), k-core (rounds bounded by degeneracy; 10x graph is
    # denser so FEWER peel rounds, not more), PACF (day-grain ACF +
    # 12-float driver recursion).
    "rake_keyphrases",
    "ab_power_mde",
    "l_diversity_audit",
    "wav_spectral_peak",
    "k_core_decomposition",
    "pacf_lags",
    # eleventh wave: grid proximity (9x one-side fanout equi-join —
    # pair count grows with density^2 but the candidate join stays
    # cell-bounded), Markov attribution (per-user windows + bounded
    # 8x8 collect).
    "grid_proximity_join",
    "markov_attribution",
    # twelfth wave: KMV (two-phase distinct + bucket-grain windows —
    # dedup-class cost), G2 (vocab-bounded grid), funnel (user-grain
    # min cascades), ESS (two hash aggs).
    "kmv_distinct_shingles",
    "g2_collocations",
    "funnel_within_window",
    "ess_weighted_estimate",
    # thirteenth wave: ITS (day-grain aggs), grid kNN (cell equi-join
    # + min agg), Huber IRLS (5 fixed one-agg passes — expect ~data
    # ratio).
    "its_segmented_regression",
    "spatial_knn_grid",
    "huber_mean_irls",
    # fourteenth wave: HW (day-grain collapse + bounded driver
    # recursion), median CI (bucket-refine order stats), Granger
    # (day-grain moments).
    "holt_winters_daily",
    "median_ci_order_stats",
    "granger_daily",
    # fifteenth wave: Procrustes (d^2-bounded partials + driver SVD),
    # FD census (two-level hash aggs), contrasts (5-row self-join).
    "embedding_procrustes_align",
    "fd_discovery_audit",
    "pairwise_mean_contrasts",
    # sixteenth wave: LOSO (one agg pass), Platt (8 one-agg Newton
    # iterations), RR (map-side noise + hash aggs).
    "loso_source_influence",
    "platt_scaling_irls",
    "randomized_response_freq",
    # seventeenth wave: binseg (bounded day-grain collect + driver
    # search — flat), datasheet (hash aggs — flat), CMS F2 (3x
    # map-side hash + 3072-cell agg).
    "binseg_changepoints",
    "corpus_datasheet",
    "selfjoin_size_cms_estimate",
    # eighteenth wave: W1 (bounded value-grain ECDF), DTW (week-grain
    # collapse + bounded driver DP), GMM EM (10 one-agg iterations).
    "wasserstein_sources",
    "dtw_priority_series",
    "gmm2_em_fit",
    # nineteenth wave: brand trend (month x brand grain), Simpson scan
    # (day-grain moment pass), overdispersion (type x day grain).
    "brand_share_trend",
    "simpsons_paradox_scan",
    "overdispersion_check",
    # twentieth wave: assortativity (edge-grain moment pass + degree
    # joins), BFS (diameter-bounded frontier rounds).
    "degree_assortativity",
    "bfs_hops_from_hub",
    # twenty-first wave: Hill (TakeOrdered + tiny agg), stump
    # (value-grain histogram), scaling law (5x vocab-bounded LM grid).
    "hill_tail_index",
    "best_split_stump",
    "unigram_scaling_law",
    # twenty-second wave: MASE (calendar-spine windows), MinHash
    # calibration (shingle sets + signatures — dedup-class cost).
    "forecast_skill_mase",
    "minhash_jaccard_calibration",
    # twenty-third wave: bitwise aggs (two-phase), business days
    # (pure row arithmetic + one agg).
    "bitwise_kit",
    "business_days_kit",
    # twenty-fourth wave: BMP channel stats (payload-local decode),
    # IP rollup (map-side hash + two aggs).
    "bmp_channel_stats",
    "ip_subnet_rollup",
]

R8_OPS = [
    # round-7 snapshot wave (extras59, never stress-measured in r7):
    # all three reduce to the bounded daily/256-day spine before any
    # driver-side math — expect ~data ratio from the fact-side agg.
    "haar_energy_decomposition",
    "ljung_box_hw_residuals",
    "arch_effect_acf",
    # round-8 wave (extras60): KMV pair sketches (two-phase distinct +
    # k-grain windows — dedup-class cost), blocked WAV loudness
    # (payload-local decode, zero shuffle), prefix census (substring
    # hash agg), DAU/WAU (distinct user-day grain + constant 7x
    # explode, equi-join only).
    "kmv_source_jaccard",
    "wav_block_loudness",
    "prefix_dup_census",
    "dau_wau_stickiness",
    # round-8 second wave (extras61): Mahalanobis (d-fold posexplode
    # collapsed map-side to labels×d + bucket-refine top-k), trigrams
    # (user-grain lead window + hash agg + 125-row rank), trimmed mean
    # (bucket-histogram + boundary-bucket refine — no fact sort).
    "embedding_mahalanobis_outliers",
    "event_trigram_mining",
    "trimmed_mean_by_segment",
]

# Round-9 wave (extras62). The media join decodes payload-local and
# shuffles scalar features only; the re-ranker's pair scorer touches
# n_queries x 50 broadcast shortlist rows, never the corpus. (The two
# round-9 window-free rank reworks, rfm_segments / rrf_rank_fusion,
# are already swept in R4D_OPS above.)
R9_OPS = [
    "media_source_curation_join",
    "crossenc_rerank_topk",
]

# Round-10 wave (extras63). The hybrid's BM25 arm prunes the exploded
# token stream to query terms BEFORE any shuffle and its pair scorer
# touches only the unioned broadcast shortlists; the audio join decodes
# payload-local and shuffles scalar loudness features only.
R11_OPS = [
    # round-11 oracle conversions (Spark plans mostly unchanged; huber
    # swaps percentile_approx for bucket-refine medians, gmm2 collapses
    # ten fact passes to one value-grain agg) + the five window-free
    # allowlist burn-downs (TakeOrdered + driver rank)
    "huber_mean_irls",
    "holt_winters_daily",
    "binseg_changepoints",
    "platt_scaling_irls",
    "gmm2_em_fit",
    "dtw_priority_series",
    "ljung_box_hw_residuals",
    "haar_energy_decomposition",
    "raking_ipf",
    "pacf_lags",
    "bfs_hops_from_hub",
    "event_trigram_mining",
    "poisson_bootstrap_ci",
    "zipf_fit",
    "hill_tail_index",
    "vocab_encode_stats",
]

R12_OPS = [
    # round-12 oracle conversions (isotonic/k-core Spark plans
    # unchanged; pagerank gains per-iteration 2^-40 snaps) + the five
    # window-free allowlist burn-downs (driver-side rank/BH/census
    # over bounded collected grains) + the markov share rework
    "isotonic_calibration",
    "pagerank_entities",
    "k_core_decomposition",
    "orphan_audit",
    "share_of_parent",
    "mann_whitney_u",
    "kruskal_wallis_h",
    "fdr_bh_tests",
    "markov_attribution",
    "kmeans_clusters",
    "randomized_response_freq",
    "wasserstein_sources",
    "best_split_stump",
    "ks_drift_test",
    "quantile_normalize_scores",
    "gini_lorenz_approx",
    "pareto_revenue",
    "concurrency_peaks",
    "forecast_skill_mase",
    "granger_daily",
    "winnowing_fingerprints",
    "unicode_nfc_audit",
]

R13_OPS = [
    # round-13 graph-op scale rework: k-core switched to the
    # delta-degree peel (static edge list, node-grain per-round state,
    # exact-count-gated broadcasts), pagerank's node-grain sides gained
    # the same exact-count broadcast gate so the edge list never
    # shuffles. STRESS_r12 ratios were 4.13 / 3.44; the rework targets
    # <= ~2.5 for both.
    "k_core_decomposition",
    "pagerank_entities",
    # round-13 additions: the incremental store census (digest-grain
    # joins + store IO — expect ~data ratio) and the streaming
    # near-dup gate (stateless band hashing is map-side; the 10x
    # corpus makes every doc a 10-way exact dup, so the flag-rate
    # census is the duplicate-heavy worst case by construction).
    "incremental_dedup_census",
    "stream_neardup_gate",
    "incremental_neardup_census",
]

R10_OPS = [
    "hybrid_bm25_ann_rerank",
    "dsir_importance_weights",
    "dsir_resample_census",
    "multimodal_data_prep",
    "audio_source_curation_join",
    "mixed_media_manifest",
    "bm25_multiquery_topk",
    "bm25_prf_topk",
    "dp_mean_release",
]


def bloom_ab_probe(spark, sf_dir: str) -> dict:
    """A/B the Bloom semi-join pruning against the plain join with
    broadcast DISABLED — the shape a 100 TB cluster sees when the dim
    side outgrows the broadcast threshold and the join becomes a
    shuffle. Measures (a) wall for plain shuffle join vs bloom-pruned
    shuffle join on the same nation-3 supplier revenue census, and
    (b) the probe-side row reduction the sketch achieves. At fixture
    scale the absolute walls are small; the row-reduction factor is the
    scale-transferable number (pruned rows never enter the shuffle)."""
    from pyspark.sql import functions as F2

    from agent_data_pipeline_spark.ops.bloomjoin import bloom_prune

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_suppkey", "l_quantity"
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").filter(
        F2.col("s_nationkey") == 3
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    out: dict = {}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t0 = time.perf_counter()
        plain = (
            li.join(sup.select("s_suppkey").hint("merge"),
                    li["l_suppkey"] == F2.col("s_suppkey"))
            .agg(F2.count(F2.lit(1)).alias("n"), F2.sum("l_quantity").alias("q"))
            .collect()[0]
        )
        out["plain_smj_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        pruned = bloom_prune(li, "l_suppkey", sup.select("s_suppkey"), "s_suppkey")
        blm = (
            pruned.join(sup.select("s_suppkey").hint("merge"),
                        pruned["l_suppkey"] == F2.col("s_suppkey"))
            .agg(F2.count(F2.lit(1)).alias("n"), F2.sum("l_quantity").alias("q"))
            .collect()[0]
        )
        out["bloom_smj_sec"] = round(time.perf_counter() - t0, 3)
        assert (plain["n"], plain["q"]) == (blm["n"], blm["q"]), "value drift!"
        n_fact = li.count()
        n_surv = pruned.count()
        out["fact_rows"] = n_fact
        out["rows_entering_shuffle"] = n_surv
        out["prune_factor"] = round(n_fact / max(n_surv, 1), 1)
        out["join_rows"] = plain["n"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return out


def graph_round_probe(spark, src: str, dst: str) -> dict:
    """Round-12 verdict item #1: pin how graph-op iteration counts grow
    with scale. k_core_decomposition's own output carries a `rounds`
    column per k-label, so the probe is one collect per scale. The 10x
    corpus is key-remapped — 10 DISJOINT copies of the base co-purchase
    graph with an identical degree distribution — so the percentile-
    anchored k values and the peel-round counts must be IDENTICAL at
    10x; any wall growth is therefore per-round cost, which the
    delta-degree peel bounds at two static-edge-list scans plus
    node-grain shuffles per round. pagerank's iteration count is
    statically fixed by the query (6), recorded for completeness."""
    out: dict = {"pagerank_iters_fixed": 6}
    for label, d in (("base", src), ("x10", dst)):
        rows = REGISTRY["k_core_decomposition"].spark(spark, d).collect()
        out[label] = {
            r["k_label"]: {"k": r["k"], "rounds": r["rounds"]} for r in rows
        }
    out["rounds_equal_at_10x"] = all(
        out["base"][lbl]["rounds"] == out["x10"][lbl]["rounds"]
        for lbl in out["base"]
    )
    return out


def pagerank_job_probe(spark, sf_dir: str) -> dict:
    """Count the Spark jobs one pagerank_entities call submits (round-4
    verdict ask #4: the per-iteration dangling-mass collect cost 8 extra
    job submissions; folding it into the iteration plan should leave
    only the node-count, the localCheckpoint materializations, and the
    final sink)."""
    sc = spark.sparkContext
    sc.setJobGroup("pagerank_probe", "pagerank job count probe")
    t0 = time.perf_counter()
    REGISTRY["pagerank_entities"].spark(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    sec = round(time.perf_counter() - t0, 3)
    jobs = len(sc.statusTracker().getJobIdsForGroup("pagerank_probe"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {"jobs": jobs, "sec": sec}


def _sweep(spark, names: list[str], sf_dir: str, n_passes: int = 2) -> dict[str, float]:
    """Interleaved rotated min-of-N timing over `names` at `sf_dir` —
    same methodology as bench.py so a background-load burst can't poison
    one query's every sample."""
    samples: dict[str, list[float]] = {name: [] for name in names}
    for p in range(n_passes):
        shift = (p * len(names)) // n_passes
        for name in names[shift:] + names[:shift]:
            start = time.perf_counter()
            REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples[name].append(time.perf_counter() - start)
    # end-of-run release (not between queries): keeps the r1-r9 warm
    # cross-pass semantics for persisting queries, still bounds session
    # accumulation
    release_persists()
    return {name: round(min(ts), 3) for name, ts in samples.items()}


def main() -> None:
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = os.environ.get("SPARK_GRAFT_STRESS_DIR", "/tmp/spark_graft_stress10x")
    # host-load snapshot before any Spark work (round-11 verdict item #1:
    # make contention-vs-regression adjudicable from the artifact alone)
    load_start = host_load()
    cpu = cpu_probe()
    spark = get_spark(app_name="agent_data_pipeline_spark-stress")

    marker = os.path.join(dst, "_GENERATED")
    if "--regen" in sys.argv and os.path.isdir(dst):
        shutil.rmtree(dst)
    if not os.path.exists(marker):
        t0 = time.perf_counter()
        generate(spark, src, dst)
        with open(marker, "w") as f:
            f.write(f"from {src} x{REPLICAS}\n")
        print(
            f"# generated 10x corpus at {dst} in "
            f"{time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    timings = _sweep(spark, HEADLINE, dst)

    def base_vs_10x(names: list[str]) -> dict:
        b = _sweep(spark, names, src)
        x = _sweep(spark, names, dst)
        return {
            name: {
                "base": b[name],
                "x10": x[name],
                "ratio": round(x[name] / max(b[name], 1e-9), 2),
            }
            for name in names
        }

    r3 = base_vs_10x(R3_OPS)
    r4 = base_vs_10x(R4_OPS)
    r4c = base_vs_10x(R4C_OPS)
    r4d = base_vs_10x(R4D_OPS)
    r5 = base_vs_10x(R5_OPS)
    r6 = base_vs_10x(R6_OPS)
    r7 = base_vs_10x(R7_OPS)
    r7b = base_vs_10x(R7B_OPS)
    r8 = base_vs_10x(R8_OPS)
    r9 = base_vs_10x(R9_OPS)
    r10 = base_vs_10x(R10_OPS)
    r11 = base_vs_10x(R11_OPS)
    r12 = base_vs_10x(R12_OPS)
    r13 = base_vs_10x(R13_OPS)
    graph_rounds = graph_round_probe(spark, src, dst)
    pg_jobs = {
        "base": pagerank_job_probe(spark, src),
        "x10": pagerank_job_probe(spark, dst),
    }
    bloom_ab = {
        "base": bloom_ab_probe(spark, src),
        "x10": bloom_ab_probe(spark, dst),
    }

    # composed exact-dedup -> minhash at 1x and 10x: the mitigation for
    # the measured semantic superlinearity of direct pair mining on a
    # duplicate-heavy corpus (SCALING.md) — ratio should stay near the
    # data ratio, not the O(m^2) pair blowup.
    composed = {
        "base": composed_neardup(spark, src),
        "x10": composed_neardup(spark, dst),
    }
    composed["time_ratio"] = round(
        composed["x10"]["sec"] / max(composed["base"]["sec"], 1e-9), 2
    )

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_10x",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "round3_ops_base_vs_10x": r3,
                "round4_ops_base_vs_10x": r4,
                "round4_part67_ops_base_vs_10x": r4c,
                "round4_part910_ops_base_vs_10x": r4d,
                "round5_ops_base_vs_10x": r5,
                "round6_ops_base_vs_10x": r6,
                "round11_ops_base_vs_10x": r11,
                "round12_ops_base_vs_10x": r12,
                "round13_ops_base_vs_10x": r13,
                "graph_round_probe": graph_rounds,
                "round7_ops_base_vs_10x": r7,
                "round7_late_ops_base_vs_10x": r7b,
                "round8_ops_base_vs_10x": r8,
                "round9_ops_base_vs_10x": r9,
                "round10_ops_base_vs_10x": r10,
                "pagerank_job_probe": pg_jobs,
                "bloom_ab_probe": bloom_ab,
                "composed_exact_then_minhash": composed,
                "sf": "sf0.1 x10 key-remapped",
                "runs_per_query": 2,
                "policy": "min",
                "load_start": load_start,
                "load_end": host_load(),
                "cpu_probe": cpu,
            }
        )
    )


if __name__ == "__main__":
    main()
