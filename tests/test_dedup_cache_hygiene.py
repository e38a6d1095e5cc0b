"""The dedup family must not accumulate registry-pinned caches across
calls: a long-lived session (e.g. a streaming ingest loop calling
incremental dedup per tick) previously degraded 18s → 40s+ because every
call persist()-ed intermediates and pushed clearCache() onto the caller.

Discipline now: intermediates are eagerly local-checkpointed; the ones a
call's outputs no longer need are unpersisted before return, the rest go
on a deferred ledger released at the next call (steady state = one
tick's blocks, flat) and `DEDUP_LEDGER.release()` drops the final
residue."""

from __future__ import annotations

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.dedup import (
    DEDUP_LEDGER,
    dedup_increment_against_index,
    minhash_index,
    minhash_lsh_dedup,
)

DOCS = [
    (i, f"document number {i} about {topic} processing at scale with spark")
    for i, topic in enumerate(
        ["query", "query", "stream", "batch", "graph", "text", "text", "vector"]
    )
]


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_minhash_dedup_repeated_calls_stay_flat(spark):
    DEDUP_LEDGER.release(blocking=True)
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    baseline = _n_cached(spark)
    counts, cached = [], []
    for _ in range(3):
        out = minhash_lsh_dedup(df, threshold=0.6)
        counts.append(out.count())
        cached.append(_n_cached(spark))
    assert len(set(counts)) == 1  # deterministic across calls
    # steady state: each call's residue is released by the next call
    assert cached[2] <= cached[0], cached
    DEDUP_LEDGER.release(blocking=True)
    assert _n_cached(spark) <= baseline


def test_incremental_dedup_repeated_ticks_stay_flat(spark, tmp_path):
    DEDUP_LEDGER.release(blocking=True)
    corpus = spark.createDataFrame(DOCS, ["doc_id", "text"])
    idx_path = str(tmp_path / "idx")
    minhash_index(corpus).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    baseline = _n_cached(spark)
    cached = []
    for tick in range(3):
        inc = spark.createDataFrame(
            [(100 + tick, DOCS[0][1]), (200 + tick, f"fresh tick {tick} text")],
            ["doc_id", "text"],
        )
        survivors, new_rows = dedup_increment_against_index(
            inc, index, threshold=0.9
        )
        assert survivors.count() == 1
        assert new_rows.count() >= 1
        cached.append(_n_cached(spark))
    assert cached[2] <= cached[0], cached
    DEDUP_LEDGER.release(blocking=True)
    assert _n_cached(spark) <= baseline


def test_collect_cap_fallback_equals_literal_path(spark, monkeypatch):
    """When more keys are oversized than the NOT-IN literal guard
    allows, the collect cap falls back to the broadcast anti-join —
    with identical results."""
    from kamu_engine_datafusion_spark.operators import dedup as D

    rows = (
        [("big1", i) for i in range(5)]
        + [("big2", i) for i in range(5)]
        + [("big3", i) for i in range(5)]
        + [("ok", 1), ("ok2", 2)]
    )
    df = spark.createDataFrame(rows, "k string, v long")
    expected = sorted(
        map(tuple, D._cap_buckets(df, "k", 3, "antijoin").collect())
    )
    literal = sorted(map(tuple, D._cap_buckets(df, "k", 3, "collect").collect()))
    assert literal == expected
    monkeypatch.setattr(D, "_COLLECT_CAP_LIMIT", 2)  # 3 oversized > guard
    fallback = sorted(map(tuple, D._cap_buckets(df, "k", 3, "collect").collect()))
    assert fallback == expected
    assert {t[0] for t in expected} == {"ok", "ok2"}


def test_distributed_offsets_repeated_calls_stay_flat(spark):
    """The offset/rank two-pass builders persist their input; repeated
    calls in a long-lived engine must not accumulate pinned blocks —
    each call releases the previous call's ledger (dedup discipline)."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        interleave_sources,
    )
    from kamu_engine_datafusion_spark.operators.system_columns import (
        OFFSET_LEDGER,
        assign_offsets_distributed,
    )

    OFFSET_LEDGER.release(blocking=True)
    baseline = _n_cached(spark)
    df = spark.range(0, 2000).withColumnRenamed("id", "k").withColumn(
        "s", (F.col("k") % 3).cast("string")
    )
    cached, counts = [], []
    for _ in range(3):
        out = assign_offsets_distributed(df, "off", 0)
        counts.append(out.count())
        cached.append(_n_cached(spark))
    assert len(set(counts)) == 1
    assert cached[2] <= cached[0], cached

    for _ in range(2):
        n = interleave_sources(
            df, "k", "s", {"0": 2.0, "1": 1.0}, mode="distributed"
        ).count()
        assert n == 2000 * 2 // 3 + 1 or n > 0
        cached.append(_n_cached(spark))
    assert cached[-1] <= cached[-2], cached
    OFFSET_LEDGER.release(blocking=True)
    assert _n_cached(spark) <= baseline
