"""Dump formatted physical plans of the headline queries to PLANS.md —
reviewable evidence of the scale properties (pushdown, pruning,
broadcast, partial aggregation, TopK) without running Spark."""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kamu_engine_datafusion_spark import queries as q  # noqa: E402
from kamu_engine_datafusion_spark.session import odf_session  # noqa: E402

SHOW = [
    "b16_groupby_agg",
    "b10_tpch_q5alike",
    "b26_tpch_q3alike",
    "b06_filter",
    "b26_orderby",
    "a04_offset_slice",
    "a13_offsets_distributed",
    "xsim_topk_brute",
    "xdedup_semantic",
    "xsample_stratified",
    "xpack_sequences",
    "xdedup_exact",
    "xdedup_embcos",
    "xasof_join",
    "xrange_join",
    "xsnapshot",
    "xskyline",
    "xbm25",
    "xtfidf",
    "xsample_temperature",
    "xcap_per_source",
    "xshuffle",
    "xmix_budget",
    "xpipeline_e2e",
    "xdedup_spans",
    "xsim_quantized_topk",
    "xchangelog_agg",
    "xoutliers",
    "xhistogram",
    "xcollocations",
    "xbigram_lm",
    "xfuzzy_join",
    "xkey_skew",
    "xrolling_time",
    "xtransitions",
    "xcorr_matrix",
    "xmerge_intervals",
    "xdrift_psi",
    "xskipgram",
    "xupsample_repeat",
    "xlength_buckets",
    "xdedup_canonical",
    "xhybrid_rrf",
    # round 7
    "xinterleave_dist",
    "xledger_compact",
    "xsample_weighted_group",
    "xtext_truncate",
    "xcorpus_card",
    "xdedup_cross",
    # round 8/9
    "xdsir_sample",
    "xngram_novelty",
    "xcurriculum",
    "xpack_efficiency",
    "xpipeline_curriculum",
    "xtok_fertility",
    "xsource_overlap",
    "xpack_layout",
    "b18_approx_bounds",
    "xlayout_zonemap",
    "xlayout_zorder",
    "xcluster_kmeans",
    "xcluster_quality",
    "xsketch_hll",
    "xsketch_countmin",
    "xsim_pq",
    # round 10
    "xsketch_quantile",
    "xdedup_cc_incremental",
    "xquality_classifier",
    # round 11
    "xtext_repetition_report",
    "xsource_tvd",
    "xcentroid_shift",
    "xdecontaminate_bloom",
    "xsketch_quantile_merge",
    "xmm_phash_neardup",
    "xwinsorize_sketch",
    # round 12
    "xsample_weighted_merge",
    "xbm25_incremental",
    "xlm_backoff",
    "xdistinctive_tokens",
    "xnegative_samples",
    "xtop_pc",
    "xmm_phash_incremental",
    "xurl_dedup",
    "xdomain_cap",
    # round 13
    "xsketch_kmv",
    "xsketch_kmv_merge",
    "xkmv_overlap",
    "xheavy_hitters",
    "xcorpus_card_maintained",
    "xhard_negatives",
    "xrater_kappa",
    "xminhash_index_maintained",
    # round 14
    "xsemdedup_incremental",
    "xann_semdedup_topk",
    "xkmv_overlap_maintained",
    "xcurriculum_sketch",
    "xdrift_psi_maintained",
    "xheavy_hitters_grid",
    "xdsir_incremental",
    "xcentroid_from_stats",
    "xlm_backoff_incremental",
    # round 16 (the arrow-signature kernel + the staged r17 head)
    "xdedup_minhash",
    "xks_drift_sketch",
    "xppmi_window",
    "xdedup_trajectory",
    "xsession_quality",
    "xkmv_overlap_delta",
]

HEADER = """# PLANS — physical plans of the headline queries (sf0.01)

Generated by `python tools/dump_plans.py`. What to look for:
- `PushedFilters: [...]` — predicates reached the Parquet scan;
- `ReadSchema:` — only referenced columns are read;
- paired `HashAggregate` nodes — map-side partial + final aggregation;
- `BroadcastHashJoin` / `BroadcastNestedLoopJoin` — small side broadcast,
  fact side never shuffles;
- `TakeOrderedAndProject` — order+limit as TopK, no global sort;
- `AdaptiveSparkPlan` — AQE re-planning enabled throughout.
"""


def main() -> None:
    spark = odf_session("plan-dump")
    reg = q.registry()
    out = [HEADER]
    for name in SHOW:
        df = reg[name](spark, "/root/testdata/sf0.01")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
