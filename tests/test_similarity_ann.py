"""ANN quality tests: IVF and multi-probe SRP against the exact
brute-force baseline on real testdata embeddings."""

from __future__ import annotations

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.similarity import (
    ivf_index,
    ivf_topk,
    srp_lsh_topk,
    topk_bruteforce,
)

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_recall_vs_bruteforce(spark):
    emb = _corpus(spark)
    query = emb.filter(F.col("vec_id") == 0)
    exact = [r["vec_id"] for r in topk_bruteforce(emb, query, k=10).collect()]

    assigned, model = ivf_index(emb, nlist=8)
    assigned = assigned.persist()
    approx = [
        r["vec_id"] for r in ivf_topk(assigned, model, query, k=10, nprobe=4).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert approx[0] == 0  # the query itself is always found
    assert recall >= 0.5  # nprobe=4 of nlist=8 must recover most of top-10
    # nprobe = nlist degenerates to exact search
    full = [
        r["vec_id"] for r in ivf_topk(assigned, model, query, k=10, nprobe=8).collect()
    ]
    assert full == exact
    assigned.unpersist()


def test_srp_multiprobe_recall_monotone(spark):
    emb = _corpus(spark)
    query = emb.filter(F.col("vec_id") == 0)
    exact = set(
        r["vec_id"] for r in topk_bruteforce(emb, query, k=10).collect()
    )

    def recall(probes: int) -> float:
        got = set(
            r["vec_id"]
            for r in srp_lsh_topk(
                emb, query, k=10, bits=6, hamming_probes=probes
            ).collect()
        )
        return len(got & exact) / 10

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0  # probing more buckets never loses candidates
    assert r4 > 0  # and finds at least part of the true top-10


def test_quantize_codes_range_and_reconstruction(spark):
    from kamu_engine_datafusion_spark.operators.similarity import (
        dequantize_codes,
        quantization_params,
        quantize_embeddings,
    )

    emb = _corpus(spark).filter(F.col("vec_id") < 200)
    params = quantization_params(emb, dim=64)
    codes = quantize_embeddings(emb, params)
    stats = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert stats["lo"] >= 0 and stats["hi"] <= 255
    # max reconstruction error per dim is half a quantization step
    err = (
        codes.withColumn("deq", dequantize_codes(F.col("codes"), params))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            F.array_max(
                F.zip_with(
                    F.col("deq"),
                    F.col("embedding").cast("array<double>"),
                    lambda a, b: F.abs(a - b),
                )
            ).alias("e")
        )
        .agg(F.max("e"))
        .collect()[0][0]
    )
    worst_step = max(
        (mx - mn) / 255.0 for mn, mx in params if mx > mn
    )
    assert err <= worst_step / 2 + 1e-12


def test_quantized_topk_matches_bruteforce_closely(spark):
    from kamu_engine_datafusion_spark.operators.similarity import (
        topk_quantized,
    )

    emb = _corpus(spark)
    query = emb.filter(F.col("vec_id") == 0)
    exact = [r["vec_id"] for r in topk_bruteforce(emb, query, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in topk_quantized(emb, query, k=10, rerank_factor=4).collect()
    ]
    assert approx[0] == 0  # the query vector itself survives quantization
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8  # 8-bit codes + 4x re-rank keep top-10 nearly exact


def test_quantize_degenerate_dimension(spark):
    from kamu_engine_datafusion_spark.operators.similarity import (
        dequantize_codes,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [2.0, 5.0])], ["vec_id", "embedding"]
    )
    params = [(1.0, 2.0), (5.0, 5.0)]  # dim 2 is constant
    out = quantize_embeddings(df, params).orderBy("vec_id").collect()
    assert [r["codes"] for r in out] == [[0, 0], [255, 0]]
    deq = (
        quantize_embeddings(df, params)
        .withColumn("deq", dequantize_codes(F.col("codes"), params))
        .orderBy("vec_id")
        .collect()
    )
    assert [r["deq"] for r in deq] == [[1.0, 5.0], [2.0, 5.0]]


# ---------------------------------------------------------------------------
# pq_topk (product quantization, ADC)
# ---------------------------------------------------------------------------


def _pq_blob_df(spark, parts=None):
    # two tight 4-d blobs; ids interleave so the k-lowest-id init seeds
    # both, mirroring the clustering test fixture
    rows = []
    for i in range(24):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append(
            (
                i,
                [
                    base + (i % 5) * 0.01,
                    base - (i % 3) * 0.01,
                    base + (i % 7) * 0.01,
                    base - (i % 2) * 0.01,
                ],
            )
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df.repartition(parts) if parts else df


def test_pq_topk_shape_monotone_and_query_exact(spark):
    from kamu_engine_datafusion_spark.operators.similarity import pq_topk

    out = pq_topk(
        _pq_blob_df(spark), "vec_id", "embedding", dim=4, m_sub=2, k=2,
        iters=2, top_n=8,
    ).collect()
    assert [r["rank"] for r in out] == list(range(1, 9))
    adcs = [r["adc_dist2q"] for r in out]
    assert adcs == sorted(adcs)
    assert all(0 <= r["c0"] < 2 and 0 <= r["c1"] < 2 for r in out)
    # the query (lowest id) must appear with exact distance 0
    q = [r for r in out if r["vec_id"] == 0]
    assert q and q[0]["true_dist2q"] == 0
    # blob-0 members (even ids) must fill the top ranks: their ADC is
    # near 0, blob-1 members' is ~2 * (10*scale)^2
    top4 = {r["vec_id"] for r in out[:4]}
    assert all(v % 2 == 0 for v in top4)


def test_pq_topk_partition_independent(spark):
    from kamu_engine_datafusion_spark.operators.similarity import pq_topk

    a = pq_topk(
        _pq_blob_df(spark), "vec_id", "embedding", dim=4, m_sub=2, k=2,
        iters=2, top_n=8,
    ).collect()
    b = pq_topk(
        _pq_blob_df(spark, parts=7), "vec_id", "embedding", dim=4,
        m_sub=2, k=2, iters=2, top_n=8,
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pq_topk_rejects_indivisible_dim(spark):
    import pytest

    from kamu_engine_datafusion_spark.operators.similarity import pq_topk

    with pytest.raises(ValueError, match="not divisible"):
        pq_topk(_pq_blob_df(spark), "vec_id", "embedding", dim=4, m_sub=3)


def test_hard_negatives_matches_numpy_replay(spark):
    """Per anchor: the k nearest OTHER-label vectors, (rounded cosine
    desc, id) order — replayed exactly in numpy (the recorded oracle
    design: bounded anchor set cross-joined in SQL, same rounding)."""
    import numpy as np

    from kamu_engine_datafusion_spark.operators.similarity import (
        hard_negatives,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], i % 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    anchors = df.filter(F.col("vec_id") < 5)
    got = sorted(
        (r["anchor_id"], r["rank"], r["neg_id"], r["neg_label"], r["cosine"])
        for r in hard_negatives(df, anchors, k=4).collect()
    )
    m = np.array([v for _, v, _ in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    want = []
    for a in range(5):
        cos = np.round(m @ m[a], 4)
        cand = [
            (-cos[j], j) for j in range(60) if rows[j][2] != rows[a][2]
        ]
        for rk, (negc, j) in enumerate(sorted(cand)[:4], start=1):
            want.append((a, rk, j, rows[j][2], -negc))
    assert got == sorted(want)
    # self/same-label never appear even at rank boundaries
    assert all(lab != rows[a][2] for a, _, _, lab, _ in got)


def test_hard_negatives_partition_independent_and_guarded(spark):
    import numpy as np
    import pytest

    from kamu_engine_datafusion_spark.operators.similarity import (
        hard_negatives,
    )

    rng = np.random.default_rng(12)
    rows = [
        (i, [float(x) for x in rng.normal(size=4)], i % 2)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    anchors = df.filter(F.col("vec_id") < 3)
    a = sorted(tuple(r) for r in hard_negatives(df, anchors, k=3).collect())
    b = sorted(
        tuple(r)
        for r in hard_negatives(df.repartition(7), anchors, k=3).collect()
    )
    assert a == b and len(a) == 9
    with pytest.raises(ValueError, match="max_anchor_rows"):
        hard_negatives(df, df, k=2, max_anchor_rows=10)
    # empty anchors: empty result, stable schema
    empty = hard_negatives(df, df.filter(F.col("vec_id") < 0), k=2)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "anchor_id", "neg_id", "neg_label", "cosine", "rank",
    ]
    # non-integer label column fails loudly at entry, not as a numpy
    # cast error deep inside the kernel
    strlab = df.withColumn("label", F.col("label").cast("string"))
    with pytest.raises(ValueError, match="must be an integer"):
        hard_negatives(strlab, strlab.filter(F.col("vec_id") < 3), k=2)
