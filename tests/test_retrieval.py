"""BM25 / TF-IDF corpus-statistics scoring, plus the round-5 sampling
additions (temperature balance, per-group cap, deterministic shuffle)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.retrieval import (
    bm25_scores,
    tfidf_topk_terms,
)
from kamu_engine_datafusion_spark.operators.sampling import (
    cap_per_group,
    shuffle_rank,
    temperature_sample,
)


def _docs(spark):
    rows = [
        (0, "spark shuffle join", "en"),
        (1, "spark spark spark streaming", "en"),
        (2, "python pandas numpy", "en"),
        (3, "join join shuffle partition spark", "de"),
        (4, "tiny", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_bm25_hand_computed(spark):
    df = _docs(spark)
    out = {
        r["doc_id"]: (r["n_terms_matched"], r["score"])
        for r in bm25_scores(df, ["spark", "join"]).collect()
    }
    # docs 0,1,3 contain 'spark'; docs 0,3 contain 'join'; 2 and 4 match nothing
    assert set(out) == {0, 1, 3}
    assert out[0][0] == 2 and out[3][0] == 2 and out[1][0] == 1
    # hand-check doc 1's single-term score: tf=3, |d|=4, N=5, avgdl=16/5,
    # df(spark)=3 → idf = ln(1 + (5-3+0.5)/(3+0.5))
    idf = math.log(1 + 2.5 / 3.5)
    expect = idf * 3 * 2.2 / (3 + 1.2 * (0.25 + 0.75 * 4 / 3.2))
    assert abs(out[1][1] - expect) < 1e-9


def test_bm25_empty_query_and_no_match(spark):
    df = _docs(spark)
    assert bm25_scores(df, ["zzz"]).count() == 0
    assert bm25_scores(df, []).count() == 0


def test_tfidf_rank_and_idf(spark):
    df = _docs(spark)
    out = tfidf_topk_terms(df, k=1).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert len(out) == 5  # one top term per doc
    # doc 1's top term must be its thrice-repeated 'spark'
    assert by_doc[1]["term"] == "spark" and by_doc[1]["tf"] == 3
    # doc 2: all terms tf=1 and unique to the doc (df=1) → tie broken
    # alphabetically
    assert by_doc[2]["term"] == "numpy"
    r = by_doc[1]
    assert abs(r["tfidf"] - 3 * (math.log(6 / 4) + 1)) < 1e-9


def test_temperature_alpha_one_is_proportional(spark):
    df = spark.range(0, 8_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 8 < 7, "en").otherwise("sw").alias("lang"),
    )
    # alpha=1 → every stratum keeps ~target_fraction
    out = temperature_sample(df, "k", "lang", alpha=1.0, target_fraction=0.5)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 0.4 < counts["en"] / 7_000 < 0.6
    assert 0.4 < counts["sw"] / 1_000 < 0.6


def test_temperature_flattens_toward_small_strata(spark):
    df = spark.range(0, 8_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 8 < 7, "en").otherwise("sw").alias("lang"),
    )
    out = temperature_sample(df, "k", "lang", alpha=0.3, target_fraction=0.5)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # low-resource stratum keeps a HIGHER fraction than high-resource
    assert counts["sw"] / 1_000 > counts["en"] / 7_000
    # and the total lands near the target
    assert 0.4 < (counts["en"] + counts["sw"]) / 8_000 < 0.6


def test_temperature_never_oversamples(spark):
    df = spark.range(0, 1_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 990, "en").otherwise("sw").alias("lang"),
    )
    # target 90% with alpha 0: 'sw' allocation would exceed its 10 rows —
    # must cap at 100%, never duplicate
    out = temperature_sample(df, "k", "lang", alpha=0.0, target_fraction=0.9)
    assert out.filter(F.col("lang") == "sw").count() == 10
    assert out.count() == out.select("k").distinct().count()


def test_cap_per_group_bounds_and_stability(spark):
    df = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    out = cap_per_group(df, "k", "g", cap=50)
    sizes = [
        r["n"]
        for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert sizes == [50] * 7
    a = set(r["k"] for r in out.collect())
    b = set(r["k"] for r in cap_per_group(df.repartition(13), "k", "g", 50).collect())
    assert a == b  # survivors independent of partitioning


def test_cap_no_op_below_cap(spark):
    df = spark.range(0, 30).select(F.col("id").alias("k"), F.lit("g").alias("g"))
    assert cap_per_group(df, "k", "g", cap=100).count() == 30


def test_shuffle_rank_modes_agree(spark):
    df = spark.range(0, 3_000).withColumnRenamed("id", "k").repartition(11)
    serial = {
        r["k"]: r["shuffle_rank"]
        for r in shuffle_rank(df, "k", mode="serial").collect()
    }
    dist = {
        r["k"]: r["shuffle_rank"]
        for r in shuffle_rank(df, "k", mode="distributed").collect()
    }
    assert serial == dist  # identical permutation, dense 0..n-1
    assert sorted(serial.values()) == list(range(3_000))


def test_shuffle_salt_changes_permutation(spark):
    df = spark.range(0, 2_000).withColumnRenamed("id", "k")
    p0 = {r["k"]: r["shuffle_rank"] for r in shuffle_rank(df, "k", salt=0, mode="serial").collect()}
    p1 = {r["k"]: r["shuffle_rank"] for r in shuffle_rank(df, "k", salt=1, mode="serial").collect()}
    assert p0 != p1  # epoch reshuffle
    assert sorted(p1.values()) == list(range(2_000))


def test_hybrid_rrf_fusion_brute_force(spark):
    from kamu_engine_datafusion_spark.operators.retrieval import hybrid_rrf

    sparse = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 3.0), (4, 1.0)], "doc_id long, score double"
    )
    dense = spark.createDataFrame(
        [(3, 0.9), (5, 0.8), (1, 0.7)], "doc_id long, cosine double"
    )
    out = {
        r["doc_id"]: (
            r["sparse_rank"], r["dense_rank"], r["rrf_score"], r["rank"]
        )
        for r in hybrid_rrf(sparse, dense, k_rrf=60, top_k=10).collect()
    }
    # brute-force RRF
    import math

    s_rank = {1: 1, 2: 2, 3: 3, 4: 4}
    d_rank = {3: 1, 5: 2, 1: 3}
    for doc in {1, 2, 3, 4, 5}:
        want = round(
            (1.0 / (60 + s_rank[doc]) if doc in s_rank else 0.0)
            + (1.0 / (60 + d_rank[doc]) if doc in d_rank else 0.0),
            6,
        )
        assert math.isclose(out[doc][2], want), doc
    # doc 3 (rank 3 sparse + rank 1 dense) beats doc 1 (1 + 3)? equal
    # contributions by symmetry -> tie broken by id: doc 1 first
    assert out[1][3] < out[3][3]
    # single-list docs carry a null rank for the missing side
    assert out[2][1] is None and out[5][0] is None
    assert len(out) == 5


def test_hybrid_rrf_top_k_cut(spark):
    from kamu_engine_datafusion_spark.operators.retrieval import hybrid_rrf

    sparse = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(20)], "doc_id long, score double"
    )
    dense = spark.createDataFrame(
        [(i, 1.0 - i / 100.0) for i in range(10, 30)],
        "doc_id long, cosine double",
    )
    out = hybrid_rrf(sparse, dense, top_k=5).collect()
    assert len(out) == 5
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [
        1, 2, 3, 4, 5,
    ]


def test_hybrid_rrf_half_up_rank_keys(spark):
    """Scores landing EXACTLY on a 4dp rounding half must use half-up
    (floor(x·1e4+0.5)/1e4) so both engines order identically: 0.00005
    rounds UP to 0.0001 and outranks a plain 0.00004."""
    from kamu_engine_datafusion_spark.operators.retrieval import hybrid_rrf

    sparse = spark.createDataFrame(
        [(1, 0.00005), (2, 0.00004)], "doc_id long, score double"
    )
    dense = spark.createDataFrame([(3, 0.5)], "doc_id long, cosine double")
    out = {
        r["doc_id"]: r["sparse_rank"]
        for r in hybrid_rrf(sparse, dense, top_k=10).collect()
    }
    assert out[1] == 1 and out[2] == 2


def test_hybrid_rrf_guard_trips_on_unbounded_input(spark):
    """The bounded-candidate-list contract fails LOUDLY: feeding a
    'corpus' past max_list_rows raises instead of serializing it
    through the single-partition rank windows."""
    import pytest

    from kamu_engine_datafusion_spark.operators.retrieval import hybrid_rrf

    big = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.col("id").cast("double").alias("score")
    )
    dense = spark.createDataFrame([(3, 0.5)], "doc_id long, cosine double")
    with pytest.raises(ValueError, match="max_list_rows"):
        hybrid_rrf(big, dense, max_list_rows=100)
    # at or under the bound it runs
    assert hybrid_rrf(big, dense, max_list_rows=500, top_k=3).count() == 3


def test_hybrid_rrf_back_to_back_calls_stay_flat(spark):
    """Each call parks its two persisted lists and releases what earlier
    calls parked, so repeated fusions hold one call's blocks."""
    from kamu_engine_datafusion_spark.operators.retrieval import (
        RETRIEVAL_LEDGER,
        hybrid_rrf,
    )

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    RETRIEVAL_LEDGER.release(blocking=True)
    baseline = n_cached()
    cached = []
    for i in range(3):
        sparse = spark.createDataFrame(
            [(1, 9.0 + i), (2, 5.0)], "doc_id long, score double"
        )
        dense = spark.createDataFrame(
            [(2, 0.9), (3, 0.8 - i / 10)], "doc_id long, cosine double"
        )
        assert hybrid_rrf(sparse, dense, top_k=10).count() == 3
        cached.append(n_cached())
    assert cached == [baseline + 2] * 3, (baseline, cached)
    # the same lists again share the cache entries the last call made:
    # releasing that call's frames must not drop them
    hybrid_rrf(sparse, dense, top_k=10).count()
    assert n_cached() == baseline + 2
    RETRIEVAL_LEDGER.release(blocking=True)
    assert n_cached() == baseline


def test_mmr_pool_cap_guard(spark):
    """mmr_diversify refuses a driver-side pool past the O(pool²) cap."""
    import pytest

    from kamu_engine_datafusion_spark.operators.similarity import (
        mmr_diversify,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    query = corpus.filter(F.col("vec_id") == 0).select("embedding")
    with pytest.raises(ValueError, match="pool"):
        mmr_diversify(corpus, query, k=2, pool=10_001)


def test_bm25_from_stats_equals_batch_bm25(spark):
    """bm25_from_stats over a one-shot term_stats_increment must equal
    bm25_scores exactly — same idf, same avgdl, same contributions."""
    from kamu_engine_datafusion_spark.operators.retrieval import (
        bm25_from_stats,
        bm25_scores,
        term_stats_increment,
    )

    rows = [
        (1, "spark engines process parquet files with spark sql"),
        (2, "query engines and storage engines differ"),
        (3, "completely unrelated text about gardens"),
        (4, "spark spark spark everywhere"),
        # NULL text: bm25_scores' F.avg skips its NULL length, so the
        # stats path must divide Σlen by the NON-NULL count (n_len),
        # not n_docs — this row pins the avgdl denominators equal.
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = ["spark", "engines"]
    want = sorted(
        (r["doc_id"], r["n_terms_matched"], round(r["score"], 9))
        for r in bm25_scores(df, q).collect()
    )
    stats = term_stats_increment(df)
    got = sorted(
        (r["doc_id"], r["n_terms_matched"], round(r["score"], 9))
        for r in bm25_from_stats(df, q, stats).collect()
    )
    assert got == want and len(got) == 3  # doc 3 matches nothing


def test_maintained_term_stats_equals_batch(spark, tmp_path):
    """Term stats folded across 3 document ticks must equal the batch
    increment of the whole ledger row-for-row (everything additive),
    and scoring a NEW tick against the maintained stats must equal
    scoring it with batch stats."""
    import os

    from kamu_engine_datafusion_spark.operators.retrieval import (
        bm25_from_stats,
        term_stats_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_term_stats,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "tsledger")
    state_dir = os.path.join(str(tmp_path), "tsstate")
    ck = os.path.join(str(tmp_path), "tsck")
    os.makedirs(ledger_dir)
    schema = "doc_id long, text string"
    all_rows = []

    def tick(rows):
        all_rows.extend(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_term_stats(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    tick([(1, "alpha beta gamma"), (2, "beta beta delta")])
    tick([(3, "alpha epsilon"), (4, "zeta")])
    tick([(5, "beta alpha alpha")])
    state = read_maintained_state(spark, state_dir)
    got = sorted(tuple(r) for r in state.collect())
    want = sorted(
        tuple(r)
        for r in term_stats_increment(
            spark.createDataFrame(all_rows, schema)
        ).collect()
    )
    assert got == want
    # score a brand-new tick against the MAINTAINED stats: identical to
    # scoring with batch stats of the full history
    new_tick = spark.createDataFrame(
        [(10, "alpha beta beta"), (11, "gamma gamma zeta")], schema
    )
    q = ["alpha", "beta", "zeta"]
    a = sorted(
        (r["doc_id"], r["n_terms_matched"], round(r["score"], 9))
        for r in bm25_from_stats(new_tick, q, state).collect()
    )
    b = sorted(
        (r["doc_id"], r["n_terms_matched"], round(r["score"], 9))
        for r in bm25_from_stats(
            new_tick, q,
            term_stats_increment(spark.createDataFrame(all_rows, schema)),
        ).collect()
    )
    assert a == b and len(a) == 2


def test_maintained_term_stats_rejects_pre_n_len_state(spark, tmp_path):
    """State persisted by the pre-n_len version of the fold (no
    non-NULL doc count) cannot be migrated — the next tick must fail
    with the targeted rebuild message, not unionByName's
    unresolved-column error."""
    import glob
    import os
    import shutil

    import pytest

    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_term_stats,
    )

    ledger_dir = os.path.join(str(tmp_path), "mledger")
    state_dir = os.path.join(str(tmp_path), "mstate")
    ck = os.path.join(str(tmp_path), "mck")
    os.makedirs(ledger_dir)
    schema = "doc_id long, text string"

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_term_stats(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    tick([(1, "alpha beta"), (2, "beta gamma")])
    # simulate legacy state: rewrite every bucket without n_len,
    # leaving the batch markers in place
    legacy = (
        spark.read.parquet(state_dir)
        .drop("n_len")
        .withColumnRenamed("__bucket", "__b")
    )
    tmp_out = os.path.join(str(tmp_path), "legacy_state")
    (
        legacy.withColumnRenamed("__b", "__bucket")
        .write.partitionBy("__bucket")
        .parquet(tmp_out)
    )
    for d in glob.glob(os.path.join(state_dir, "__bucket=*")):
        shutil.rmtree(d)
    for d in glob.glob(os.path.join(tmp_out, "__bucket=*")):
        shutil.move(d, os.path.join(state_dir, os.path.basename(d)))
    with pytest.raises(Exception, match="rebuild"):
        tick([(3, "alpha delta")])
