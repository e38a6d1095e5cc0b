"""Dump .explain('formatted') of registry queries into
<outdir>/<query>_<tag>.txt — before/after plan evidence for a change.

Usage: python tools/dump_key_plans.py <outdir> <tag> [query ...]

With no queries it dumps the headline set below. The corpus is read
from $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kamu_engine_datafusion_spark import queries as q  # noqa: E402
from kamu_engine_datafusion_spark.session import odf_session  # noqa: E402

HEADLINE = [
    "b16_groupby_agg",
    "b10_tpch_q5alike",
    "b26_tpch_q3alike",
    "b10_join_inner",
    "b17_count_distinct",
    "b23_ranking",
    "b30_subqueries",
    "b33_regex",
    "b34_crypto",
    "a13_offsets_distributed",
    "xdedup_exact",
    "xdedup_minhash",
    "xsim_topk_brute",
    "xtext_quality",
]


def main():
    if len(sys.argv) < 3 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        sys.exit(__doc__)
    outdir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    os.makedirs(outdir, exist_ok=True)
    spark = odf_session("dump-key-plans")
    registry = q.registry()
    for name in names:
        df = registry[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
