"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN is deployed on real clusters:

- :func:`topk_bruteforce` — exact cosine top-k. The baseline; a single
  broadcast of the query + one pass over the corpus + TopK
  (TakeOrderedAndProject). At 100 TB this is the "scan" tier — it
  parallelizes perfectly and never shuffles the corpus.
- :func:`srp_lsh_topk` — signed-random-projection (SRP) LSH: k-bit
  hyperplane signatures, candidates share a bucket, exact re-rank inside
  the bucket. The "index" tier: the corpus is bucketed once (write-side
  partitioning), and a query touches only its bucket(s).

Hyperplanes are generated deterministically from a seed, driver-side,
and inlined as literal arrays — no SciPy/sklearn dependency.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.functions.columns import dot_product, l2_norm


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    head = df.select(F.size(vec_col)).head()
    return head[0] if head else None


def topk_bruteforce(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of ``query`` (a 1-row DataFrame with the same
    vector column) against ``corpus``.

    Plan shape: BroadcastNestedLoopJoin (1-row broadcast) → projected
    cosine (norms precomputed per side) → TakeOrderedAndProject. No
    shuffle of the corpus.
    """
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qv"), l2_norm(F.col(vec_col), dim).alias("__qnrm")
        )
    )
    return (
        corpus.withColumn("__nrm", l2_norm(F.col(vec_col), dim))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(
                dot_product(F.col(vec_col), F.col("__qv"), dim)
                / (F.col("__nrm") * F.col("__qnrm")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(
    dim: int, bits: int, seed: int, source: str = "gauss"
) -> list[list[float]]:
    """``gauss``: spherically-symmetric planes (best recall geometry).
    ``lcg``: integer-LCG planes (``dedup.srp_plane_components``) —
    reproducible verbatim in plain SQL, enabling a cross-engine oracle
    of the full bucket + re-rank pipeline."""
    if source == "lcg":
        from kamu_engine_datafusion_spark.operators.dedup import (
            srp_plane_components,
        )

        return [srp_plane_components(p, dim) for p in range(bits)]
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def srp_signature(vec_col, planes: list[list[float]]):
    """Packed SRP signature: bit i = sign(<v, plane_i>), as a long.

    Each plane dot runs through the compact higher-order ``aggregate``
    form (an unrolled literal sum was measured slower — codegen fallback).
    """
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        dot = dot_product(vec_col, F.array(*[F.lit(x) for x in plane]))
        sig = sig + F.shiftleft(
            F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")), i
        )
    return sig


def srp_lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 12,
    dim: int | None = None,
    seed: int = 42,
    hamming_probes: int = 0,
    plane_source: str = "gauss",
) -> DataFrame:
    """Approximate cosine top-k: exact re-rank within the query's SRP
    bucket(s).

    Scale path: ``corpus`` bucketed by signature is a write-time
    partitioning — a query prunes to one bucket (~corpus/2^bits rows).
    ``hamming_probes`` > 0 enables multi-probe: the query also visits
    every bucket whose signature flips one of the first
    ``hamming_probes`` bits — the standard recall knob (cost grows
    linearly in probes, recall rises steeply).
    """
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    planes = _hyperplanes(dim, bits, seed, plane_source)
    csig = corpus.withColumn("__sig", srp_signature(F.col(vec_col), planes)).withColumn(
        "__nrm", l2_norm(F.col(vec_col), dim)
    )
    base_sig = srp_signature(F.col(vec_col), planes)
    probe_sigs = F.array(
        base_sig,
        *[
            base_sig.bitwiseXOR(F.lit(1 << b).cast("long"))
            for b in range(min(hamming_probes, bits))
        ],
    )
    qsig = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qv"),
            F.explode(probe_sigs).alias("__qsig"),
            l2_norm(F.col(vec_col), dim).alias("__qnrm"),
        )
    )
    return (
        csig.join(qsig, csig["__sig"] == qsig["__qsig"])
        .select(
            F.col(id_col),
            F.round(
                dot_product(F.col(vec_col), F.col("__qv"), dim)
                / (F.col("__nrm") * F.col("__qnrm")),
                6,
            ).alias("cosine"),
        )
        .distinct()  # a hit can arrive via several probes
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_index(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, object]:
    """Build an IVF (inverted-file) index: a k-means coarse quantizer
    over the corpus, every vector assigned to its nearest centroid list.

    Returns ``(assigned_corpus, kmeans_model)``. At scale the assigned
    corpus is written partitioned by ``__list`` so a query reads only
    its probed lists (see :func:`ivf_topk`); MLlib k-means trains in a
    few distributed passes.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn(
        "__features",
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    )
    model = KMeans(
        k=nlist, seed=seed, featuresCol="__features", predictionCol="__list"
    ).fit(feat)
    assigned = model.transform(feat).drop("__features")
    return assigned, model


def ivf_topk(
    assigned_corpus: DataFrame,
    model,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """IVF search: exact cosine re-rank inside the ``nprobe`` centroid
    lists nearest to the query.

    Driver-side work is tiny (centroid distances for one query vector);
    cluster-side work is a filtered scan of ~nprobe/nlist of the corpus
    — the classic IVF recall/cost dial. With the corpus written
    partitioned by ``__list``, the ``isin`` filter becomes partition
    pruning and the unprobed lists are never read.
    """
    import numpy as np

    if dim is None:
        dim = _vec_dim(assigned_corpus, vec_col)
    qvec = np.array(query.select(vec_col).head()[0], dtype="float64")
    dists = [float(np.linalg.norm(qvec - c)) for c in model.clusterCenters()]
    probe_lists = sorted(range(len(dists)), key=lambda i: dists[i])[:nprobe]

    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qv"), l2_norm(F.col(vec_col), dim).alias("__qnrm")
        )
    )
    return (
        assigned_corpus.filter(F.col("__list").isin(probe_lists))
        .withColumn("__nrm", l2_norm(F.col(vec_col), dim))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(
                dot_product(F.col(vec_col), F.col("__qv"), dim)
                / (F.col("__nrm") * F.col("__qnrm")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 4,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in one corpus
    pass — the production scoring shape (one query at a time re-scans
    the corpus per query; this amortizes the scan across all of them).

    Shape: the query matrix rides the ``mapInPandas`` closure
    (``q × dim`` doubles — broadcast-small by contract); each Arrow
    batch is scored with one numpy matmul and reduced to its LOCAL
    top-k per query (exact prune: a batch's non-top-k rows can never
    enter the global top-k), so the only exchange carries at most
    ``q × k × num_batches`` survivor rows into a tiny global rank
    window. The corpus itself never shuffles.

    Ordering is ``(round(cosine, round_dp) DESC, id)`` — rounding
    bridges SIMD-vs-sequential float summation so ranks are
    reproducible across engines; ties then break deterministically on
    the id.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    if not qrows:
        schema = f"query_id long, {id_col} long, cosine double, rank long"
        return corpus.sparkSession.createDataFrame([], schema)
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qm = np.array([list(map(float, r[vec_col])) for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    # zero-norm query guard: unguarded division gives a NaN row whose
    # lexsort order is arbitrary; cosine 0 everywhere is the defined
    # result for a zero query (matches the corpus-side guard below)
    qm = np.where(qn == 0.0, 0.0, qm / np.where(qn == 0.0, 1.0, qn))

    def score(batches):
        for pdf in batches:
            vn = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            norms = np.linalg.norm(vn, axis=1, keepdims=True)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(norms == 0.0, 0.0, vn / norms) @ qm.T  # n × q
            cos = np.round(cos, round_dp)
            take = min(k, cos.shape[0])
            # per query: local top-k by (cosine desc, id asc)
            out_q, out_id, out_c = [], [], []
            for j in range(cos.shape[1]):
                order = np.lexsort((ids, -cos[:, j]))[:take]
                out_q.append(np.full(take, qids[j]))
                out_id.append(ids[order])
                out_c.append(cos[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_id),
                    "cosine": np.concatenate(out_c),
                }
            )

    from pyspark.sql import Window

    survivors = corpus.select(id_col, vec_col).mapInPandas(
        score, f"query_id long, {id_col} long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def quantization_params(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the codebook for
    :func:`quantize_embeddings`. One scan, ``2*dim`` codegen'd MIN/MAX
    aggregates with map-side partials; the result (``2*dim`` doubles)
    collects to the driver — the same sanctioned tiny-collect as the
    IVF centroids."""
    if dim is None:
        dim = _vec_dim(df, vec_col)
    v = F.col(vec_col).cast("array<double>")
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at(v, i + 1)).alias(f"mn{i}"))
        aggs.append(F.max(F.element_at(v, i + 1)).alias(f"mx{i}"))
    row = df.agg(*aggs).collect()[0]
    return [(row[f"mn{i}"], row[f"mx{i}"]) for i in range(dim)]


def quantize_embeddings(
    df: DataFrame,
    params: list[tuple[float, float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar (int8-range) quantization: dimension ``i`` maps to
    ``floor((x - mn_i) / (mx_i - mn_i) * 255 + 0.5)`` ∈ [0, 255]
    (``floor(x+0.5)``, not ``round`` — engines disagree on
    banker's-vs-half-up for exact .5 ties; floor is unambiguous).
    Degenerate dims (``mx == mn``) code to 0.

    Returns ``(id_col, codes array<int>)`` — 4x smaller than float32
    storage per dim (byte-pack to 8x where the sink supports it); at
    100 TB the quantized corpus is the resident working set and the
    float vectors stay cold. In-row math against broadcast literal
    codebook — zero shuffle.
    """
    mins = F.array(*[F.lit(float(mn)) for mn, _ in params])
    scales = F.array(
        *[
            F.lit(0.0 if mx == mn else 255.0 / (mx - mn))
            for mn, mx in params
        ]
    )
    v = F.col(vec_col).cast("array<double>")
    codes = F.transform(
        v,
        lambda x, i: F.floor(
            (x - F.element_at(mins, i + 1)) * F.element_at(scales, i + 1)
            + F.lit(0.5)
        ).cast("int"),
    )
    return df.select(F.col(id_col), codes.alias("codes"))


def dequantize_codes(
    codes_col, params: list[tuple[float, float]]
):
    """Reconstruction ``x̂_i = mn_i + c_i * (mx_i - mn_i) / 255`` as an
    in-row Column (``array<double>``)."""
    mins = F.array(*[F.lit(float(mn)) for mn, _ in params])
    steps = F.array(
        *[
            F.lit(0.0 if mx == mn else (mx - mn) / 255.0)
            for mn, mx in params
        ]
    )
    return F.transform(
        codes_col,
        lambda c, i: F.element_at(mins, i + 1)
        + c.cast("double") * F.element_at(steps, i + 1),
    )


def topk_quantized(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank_factor: int = 4,
    params: list[tuple[float, float]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via scalar quantization with exact
    re-rank: rank the whole corpus by ASYMMETRIC distance (full-precision
    query against dequantized corpus codes — the standard SQ search),
    keep the top ``k * rerank_factor`` (deterministic
    (rounded-score, id) order), then exact-cosine re-rank those
    candidates from the original float vectors.

    Scale shape: the scan tier runs over the 4x-smaller quantized
    corpus (in production, a materialized codes table), broadcast
    1-row query, TakeOrderedAndProject — no corpus shuffle; the exact
    tier touches only ``k * rerank_factor`` rows via a broadcast semi
    join. Recall loss is bounded by quantization error; raise
    ``rerank_factor`` to trade compute for recall.
    """
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    if params is None:
        params = quantization_params(corpus, vec_col, dim)
    codes = quantize_embeddings(corpus, params, vec_col, id_col)
    deq = dequantize_codes(F.col("codes"), params)
    q = F.broadcast(
        query.select(
            F.col(vec_col).cast("array<double>").alias("__qv"),
            l2_norm(F.col(vec_col), dim).alias("__qnrm"),
        )
    )
    approx = (
        codes.withColumn("__deq", deq)
        .withColumn("__dnrm", l2_norm(F.col("__deq"), dim))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(
                F.when(
                    (F.col("__dnrm") == 0.0) | (F.col("__qnrm") == 0.0),
                    F.lit(0.0),
                ).otherwise(
                    dot_product(F.col("__deq"), F.col("__qv"), dim)
                    / (F.col("__dnrm") * F.col("__qnrm"))
                ),
                6,
            ).alias("__approx"),
        )
        .orderBy(F.col("__approx").desc(), F.col(id_col))
        .limit(k * rerank_factor)
    )
    cand = corpus.join(
        F.broadcast(approx.select(id_col)), id_col, "left_semi"
    )
    return topk_bruteforce(cand, query, k, vec_col, id_col, dim)


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m_sub: int = 4,
    k: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    top_n: int = 10,
) -> DataFrame:
    """Product-quantization ADC top-k (Jégou, Douze, Schmid 2011,
    public): split ``dim`` into ``m_sub`` subspaces, train a
    ``k``-centroid codebook per subspace with the fixed-point Lloyd's
    loop (:func:`~kamu_engine_datafusion_spark.operators.clustering.
    lloyd_centroids` — bit-reproducible, so the oracle replays every
    codebook), encode each vector as ``m_sub`` codes, then answer the
    query (deterministically: the lowest-``id_col`` vector) by
    Asymmetric Distance Computation — a driver-built lookup table of
    quantized subspace distances, summed in-row per corpus vector.

    Scale shape — the PQ serving plan verbatim: codebook training is
    ``m_sub × iters`` bounded aggregates (k×(sub_dim+1) longs each);
    encoding is in-row argmin against literal centroids at scan speed
    (codes shrink a 64-float vector to ``m_sub`` bytes — the 100 TB
    memory story); the LUT is ``m_sub·k`` ints broadcast as literals;
    ADC scoring is ``m_sub`` array lookups + adds per row, no join, no
    shuffle; top-n is TakeOrderedAndProject. ``true_dist2q`` (the
    exact quantized distance) rides along so the output doubles as a
    recall audit of the compression.

    Returns ``(rank, id_col, c0..c{m_sub-1}, adc_dist2q,
    true_dist2q)`` for the ``top_n`` lowest-ADC vectors (ties → id).
    """
    from pyspark.sql import Window

    from kamu_engine_datafusion_spark.operators.clustering import (
        kmeans_enc_expr,
        lloyd_centroids,
        quantize_vectors,
    )

    if dim % m_sub != 0:
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    sub = dim // m_sub
    q = quantize_vectors(df, id_col, vec_col, scale)

    codebooks = [
        lloyd_centroids(
            q.select(
                F.col(id_col), F.slice("__qv", s * sub + 1, sub).alias("__qv")
            ),
            id_col,
            sub,
            k,
            iters,
        )
        for s in range(m_sub)
    ]

    qv = list(q.orderBy(id_col).limit(1).collect()[0]["__qv"])
    luts = [
        [
            sum((a - b) * (a - b) for a, b in zip(qv[s * sub : (s + 1) * sub], c))
            for c in codebooks[s]
        ]
        for s in range(m_sub)
    ]

    code_cols = [
        (
            kmeans_enc_expr(
                codebooks[s], k, vec=F.slice("__qv", s * sub + 1, sub)
            )
            % F.lit(k)
        )
        .cast("long")
        .alias(f"c{s}")
        for s in range(m_sub)
    ]
    # exact integer dist² to the constant query — the k=1 case of the
    # routed argmin encoding (enc = dist·1 + 0)
    true_dist = kmeans_enc_expr([list(qv)], 1, vec=F.col("__qv"))
    coded = q.select(
        F.col(id_col), *code_cols, true_dist.alias("true_dist2q")
    )
    adc = None
    for s in range(m_sub):
        term = F.element_at(
            F.array(*[F.lit(int(d)) for d in luts[s]]),
            (F.col(f"c{s}") + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    top = (
        coded.withColumn("adc_dist2q", adc.cast("long"))
        .orderBy("adc_dist2q", id_col)
        .limit(top_n)
    )
    # BOUNDED-WINDOW CLASS: input is the limit(top_n) frame above.
    w = Window.orderBy("adc_dist2q", id_col)
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        id_col,
        *[f"c{s}" for s in range(m_sub)],
        "adc_dist2q",
        "true_dist2q",
    )


def mmr_diversify(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance result diversification (Carbonell &
    Goldstein): greedily pick ``k`` results maximizing
    ``lam·rel(d) − (1−lam)·max_{s∈selected} sim(d, s)`` — relevance
    traded against redundancy, the standard re-rank after a dense
    retrieval stage.

    Two-phase by construction (the IVF-centroid pattern): phase 1 is
    the DISTRIBUTED exact top-``pool`` cosine scan (broadcast 1-row
    query, TakeOrderedAndProject, corpus never shuffles); phase 2 runs
    the inherently-sequential greedy walk on the driver over the
    bounded pool (≤ a few hundred rows — the only data that ever
    leaves the cluster). Pool relevances and pairwise similarities are
    rounded to 6 dp — explicit half-up ``floor(x·1e6 + 0.5)/1e6``, not
    the engines' ``round()`` builtins, which disagree on exact halves —
    before the argmax (ties broken by ascending id), so
    the selection is reproducible across engines and summation orders;
    pairwise dots are computed sequentially (left-to-right, float64) to
    match SQL ``list_dot_product`` exactly.

    Returns ``(rank, id, rel, mmr)``; rank 1's mmr is its relevance
    (the first pick has no diversity term).

    Guard: the driver-side walk is O(pool²) pairwise sims and collects
    ``pool`` embeddings — the ``.limit(pool)`` injection bounds what
    leaves the cluster regardless of corpus size, and ``pool`` itself
    is capped so a misuse can't smuggle a corpus through the collect.
    """
    if pool > 10_000:
        raise ValueError(
            f"mmr_diversify: pool={pool} exceeds the driver-side cap "
            "(10000) — MMR's greedy walk is O(pool²) on the driver; "
            "pre-filter with an ANN stage instead of a huge pool"
        )
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qv"),
            l2_norm(F.col(vec_col), dim).alias("__qnrm"),
        )
    )
    pool_df = (
        corpus.withColumn("__nrm", l2_norm(F.col(vec_col), dim))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.col(vec_col),
            # explicit half-up (floor(x·1e6 + 0.5)/1e6), NOT the round()
            # builtin: engines disagree on exact .5 halves, which can
            # flip pool membership or a greedy argmax across engines
            (
                F.floor(
                    (
                        dot_product(F.col(vec_col), F.col("__qv"), dim)
                        / (F.col("__nrm") * F.col("__qnrm"))
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col(id_col))
        .limit(pool)
    )
    rows = pool_df.collect()

    def _dot(a, b):
        s = 0.0
        for x, y in zip(a, b):  # sequential: matches list_dot_product
            s += x * y
        return s

    def _r6(x: float) -> float:
        # half-up, matching the engine-side floor(x·1e6 + 0.5)/1e6
        # (Python's round() is banker's and would diverge on halves)
        return math.floor(x * 1e6 + 0.5) / 1e6

    vecs = [[float(x) for x in r[vec_col]] for r in rows]
    norms = [math.sqrt(_dot(v, v)) for v in vecs]
    n = len(rows)
    sim = [
        [
            _r6(_dot(vecs[i], vecs[j]) / (norms[i] * norms[j]))
            if norms[i] and norms[j]
            else 0.0
            for j in range(n)
        ]
        for i in range(n)
    ]
    rel = [r["rel"] for r in rows]
    ids = [r[id_col] for r in rows]
    selected: list[int] = []
    out_rows = []
    while rows and len(selected) < k and len(selected) < n:
        best = None
        for i in range(n):
            if i in selected:
                continue
            if not selected:
                score = rel[i]
            else:
                score = lam * rel[i] - (1.0 - lam) * max(
                    sim[i][j] for j in selected
                )
            # argmax, ties -> ascending id
            if best is None or score > best[0] or (
                score == best[0] and ids[i] < ids[best[1]]
            ):
                best = (score, i)
        selected.append(best[1])
        out_rows.append(
            (len(selected), ids[best[1]], rel[best[1]], _r6(best[0]))
        )
    return corpus.sparkSession.createDataFrame(
        out_rows, f"rank long, {id_col} long, rel double, mmr double"
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_dp: int = 4,
    max_anchor_rows: int = 10_000,
) -> DataFrame:
    """HARD negative mining for contrastive training: for each anchor,
    the ``k`` most-similar corpus vectors with a DIFFERENT label —
    the standard upgrade over random negatives (ring sampling,
    ``operators/sampling.py::negative_samples``): negatives that are
    near the anchor in embedding space but belong to another class
    carry the gradient signal random ones don't (Robinson et al. 2021,
    "Contrastive Learning with Hard Negative Samples").

    Same execution contract as :func:`topk_batch` (one corpus pass,
    anchors ride the closure — bounded by ``max_anchor_rows``, raises
    loudly beyond it): each Arrow batch is scored with one numpy
    matmul, same-label candidates and the anchor itself are masked
    OUT, the batch reduces to its local top-k per anchor (exact
    prune), and only ``anchors × k × batches`` survivor rows reach the
    global rank window. Ordering ``(round(cosine, round_dp) DESC, id)``
    — reproducible across engines, ties on id.

    Returns ``(anchor_id, neg_id, neg_label, cosine, rank)``. Labels
    must be integer-typed (the embeddings-table contract; cast string
    classes upstream).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # Loud schema check: the kernel builds int64 label arrays, so a
    # string/float label column would otherwise die as a numpy cast
    # error deep inside mapInPandas — fail at entry instead.
    for side, frame in (("corpus", corpus), ("anchors", anchors)):
        lt = frame.schema[label_col].dataType
        if not isinstance(
            lt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise ValueError(
                f"hard_negatives: {side}.{label_col} must be an integer "
                f"type (got {lt.simpleString()}); cast string classes "
                "upstream (e.g. dense_rank over the class column)"
            )
    n_anchor = anchors.count()
    if n_anchor > max_anchor_rows:
        raise ValueError(
            f"hard_negatives: {n_anchor} anchors exceed max_anchor_rows="
            f"{max_anchor_rows}; mine in batches (the anchor matrix rides "
            "the task closure)"
        )
    arows = (
        anchors.select(id_col, vec_col, label_col).orderBy(id_col).collect()
    )
    if not arows:
        schema = (
            "anchor_id long, neg_id long, neg_label long, "
            "cosine double, rank long"
        )
        return corpus.sparkSession.createDataFrame([], schema)
    aids = np.array([r[id_col] for r in arows], dtype=np.int64)
    alab = np.array([r[label_col] for r in arows], dtype=np.int64)
    am = np.array(
        [list(map(float, r[vec_col])) for r in arows], dtype=np.float64
    )
    an = np.linalg.norm(am, axis=1, keepdims=True)
    am = np.where(an == 0.0, 0.0, am / np.where(an == 0.0, 1.0, an))

    def score(batches):
        for pdf in batches:
            vn = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            labs = pdf[label_col].to_numpy()
            norms = np.linalg.norm(vn, axis=1, keepdims=True)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(norms == 0.0, 0.0, vn / norms) @ am.T
            cos = np.round(cos, round_dp)
            # mask: same label or the anchor row itself can never be a
            # negative — drop below any reachable cosine
            cos[labs[:, None] == alab[None, :]] = -2.0
            cos[ids[:, None] == aids[None, :]] = -2.0
            take = min(k, cos.shape[0])
            out_a, out_id, out_lab, out_c = [], [], [], []
            for j in range(cos.shape[1]):
                order = np.lexsort((ids, -cos[:, j]))[:take]
                keep = order[cos[order, j] > -2.0]
                out_a.append(np.full(len(keep), aids[j]))
                out_id.append(ids[keep])
                out_lab.append(labs[keep])
                out_c.append(cos[keep, j])
            yield pd.DataFrame(
                {
                    "anchor_id": np.concatenate(out_a),
                    "neg_id": np.concatenate(out_id),
                    "neg_label": np.concatenate(out_lab),
                    "cosine": np.concatenate(out_c),
                }
            )

    from pyspark.sql import Window

    survivors = corpus.select(id_col, vec_col, label_col).mapInPandas(
        score,
        "anchor_id long, neg_id long, neg_label long, cosine double",
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return survivors.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)
