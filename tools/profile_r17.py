"""r17 optimization profiling: per-stage timings of the expensive
headline queries at sf0.1 with the noop sink (guide §1.1/§1.4), each
phase labelled via setJobDescription (§1.5).

Usage: python tools/profile_r17.py [what ...]
  what ∈ {minhash, b23, text, b17, rerun-bench-queries}
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kamu_engine_datafusion_spark import queries as q  # noqa: E402
from kamu_engine_datafusion_spark.queries._util import load  # noqa: E402
from kamu_engine_datafusion_spark.session import odf_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn, reps=3):
    best = None
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{label} #{i}")
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"  {label:<44s} best={best:7.3f}s")
    spark.sparkContext.setJobDescription(None)
    return best


def profile_minhash(spark):
    from kamu_engine_datafusion_spark.operators import dedup as D
    from kamu_engine_datafusion_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    t = load(spark, SF_DIR, "documents")
    docs = t["documents"]
    print(f"documents rows: {docs.count()}")

    # stage 1: signatures only
    timed(
        spark,
        "minhash: signatures",
        lambda: noop(minhash_signatures(docs)),
    )

    # stage 2: candidates (includes persist + cap collect + self-join)
    def cands():
        D.DEDUP_LEDGER.release()
        noop(minhash_lsh_candidates(docs))

    timed(spark, "minhash: candidates (full)", cands)

    # stage 3: full dedup as registered
    def full():
        noop(
            D.minhash_lsh_dedup(docs, threshold=0.7).select("doc_id", "lang")
        )

    timed(spark, "minhash: full dedup (registered)", full, reps=4)


def profile_b23(spark):
    fn = q.registry()["b23_ranking"]
    timed(spark, "b23_ranking (registered)", lambda: noop(fn(spark, SF_DIR)), reps=5)
    t = load(spark, SF_DIR, "orders")
    print(f"orders rows: {t['orders'].count()}")


def profile_text(spark):
    fn = q.registry()["xtext_quality"]
    timed(spark, "xtext_quality (registered)", lambda: noop(fn(spark, SF_DIR)), reps=5)
    # pieces
    from kamu_engine_datafusion_spark.operators import text as X

    t = load(spark, SF_DIR, "documents")
    docs = t["documents"]
    f = X.quality_features("text")
    timed(
        spark,
        "xtext: features only",
        lambda: noop(
            docs.select(
                "doc_id",
                f["n_chars"].cast("long").alias("n_chars"),
                f["n_tokens"].cast("long").alias("n_tokens"),
                F.round(f["punct_ratio"], 6).alias("punct_ratio"),
                F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
            )
        ),
    )
    timed(
        spark,
        "xtext: score only",
        lambda: noop(docs.select("doc_id", X.quality_score("text").alias("q"))),
    )
    timed(
        spark,
        "xtext: stopword counts only",
        lambda: noop(
            docs.select(
                "doc_id",
                *[
                    X.stopword_hits("text", lang).alias(f"s_{lang}")
                    for lang in sorted(X.STOPWORDS)
                ],
            )
        ),
    )


def profile_b17(spark):
    fn = q.registry()["b17_count_distinct"]
    timed(spark, "b17 (registered)", lambda: noop(fn(spark, SF_DIR)), reps=5)


def main():
    what = sys.argv[1:] or ["minhash", "b23", "text", "b17"]
    spark = odf_session("r17-profile")
    # warm page cache + JIT like bench.py
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    for w in what:
        print(f"== {w} ==")
        {
            "minhash": profile_minhash,
            "b23": profile_b23,
            "text": profile_text,
            "b17": profile_b17,
        }[w](spark)


if __name__ == "__main__":
    main()
