"""Reference formulations of the vectorized production kernels.

Each production kernel (Arrow/numpy, ``mapInArrow``, grouped pandas)
has one path. The formulations here are the interpreted Spark SQL
(HOF fold / join) or pure-Python definitions those kernels were derived
from; the twin-equality tests compare the production result against
them, value for value, including the NULL, ragged and empty-state
edges. Nothing in the package imports this module.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.functions.columns import (
    _MERSENNE_31 as _M31,
    _let,
    dot_product,
    minhash_coeffs,
    poly_hash31,
    shingle_hash_array,
    tokens,
    word_shingles,
)
from kamu_engine_datafusion_spark.operators import classifier as _cls


# -- exact integer vector folds (operators/clustering.py) -------------------


def int_dot_fold(u, v):
    """Exact integer dot of two ``array<long>`` columns; NULL when
    either side is NULL or the lengths differ (zip_with pads NULL)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_dot_const_fold(col, vec: list[int]):
    return int_dot_fold(
        col, F.array(*[F.lit(int(x)).cast("long") for x in vec])
    )


def kmeans_enc_fold(centroids: list[list[int]], k: int, vec):
    """``least`` over ``dist²·k + cid`` — one fold per centroid."""
    encs = []
    for cid, c_vec in enumerate(centroids):
        dist = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(int(v)) for v in c_vec]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        encs.append(dist * F.lit(k) + F.lit(cid))
    return encs[0] if k == 1 else F.least(*encs)


def semdedup_increment_join(
    inc_rows: DataFrame,
    state_rows: DataFrame | None,
    id_col: str = "vec_id",
    tau2_num: int = 9_025,
    tau2_den: int = 10_000,
) -> DataFrame:
    """``semdedup_increment_against_index`` as cluster equi-joins plus a
    per-pair exact dot: state rows kill increment rows in their
    cluster, increment rows kill higher-id increment rows; near =
    ``dot > 0 AND dot²·den ≥ num·n2_a·n2_b``."""

    def near():
        dot, ln, rn = F.col("__dot"), F.col("__ln"), F.col("__rn")
        return (dot > 0) & (
            dot * dot * F.lit(tau2_den) >= F.lit(tau2_num) * ln * rn
        )

    dot = int_dot_fold(F.col("__lq"), F.col("__rq"))
    right = inc_rows.select(
        "cluster",
        F.col(id_col).alias("__rid"),
        F.col("q2").alias("__rq"),
        F.col("n2").alias("__rn"),
    )
    dead = (
        inc_rows.select(
            "cluster",
            F.col(id_col).alias("__lid"),
            F.col("q2").alias("__lq"),
            F.col("n2").alias("__ln"),
        )
        .join(right, "cluster")
        .filter(F.col("__lid") < F.col("__rid"))
        .withColumn("__dot", dot)
        .filter(near())
        .select(F.col("__rid").alias("__dead"))
    )
    if state_rows is not None:
        dead = dead.unionByName(
            state_rows.select(
                "cluster", F.col("q2").alias("__lq"), F.col("n2").alias("__ln")
            )
            .join(right, "cluster")
            .withColumn("__dot", dot)
            .filter(near())
            .select(F.col("__rid").alias("__dead"))
        )
    return inc_rows.join(
        dead.distinct().withColumnRenamed("__dead", id_col),
        id_col,
        "left_anti",
    )


def semdedup_join(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 3,
    scale: int = 10_000,
    sim_scale: int = 1_000,
    tau2_num: int = 9_025,
    tau2_den: int = 10_000,
) -> DataFrame:
    """Batch ``semdedup`` as a cluster self-join plus a per-pair exact
    dot: ``n_dups`` counts the lower-id rows of the same cluster that
    are near-dups of the row; ``is_kept`` is 1 when there are none."""
    from kamu_engine_datafusion_spark.operators.clustering import (
        kmeans_fixed_point,
    )

    assign = kmeans_fixed_point(df, id_col, vec_col, dim, k, iters, scale)
    q2 = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(float(sim_scale)) + F.lit(0.5)
            ).cast("long"),
        ).alias("__q2"),
    )
    a = q2.join(assign.select(id_col, "cluster"), id_col).withColumn(
        "__n2", int_dot_fold(F.col("__q2"), F.col("__q2"))
    )
    left = a.select(
        "cluster",
        F.col(id_col).alias("__lid"),
        F.col("__q2").alias("__lq"),
        F.col("__n2").alias("__ln"),
    )
    right = a.select(
        "cluster",
        F.col(id_col).alias("__rid"),
        F.col("__q2").alias("__rq"),
        F.col("__n2").alias("__rn"),
    )
    dot = F.col("__dot")
    dups = (
        left.join(right, "cluster")
        .filter(F.col("__lid") < F.col("__rid"))
        .withColumn("__dot", int_dot_fold(F.col("__lq"), F.col("__rq")))
        .filter(
            (dot > 0)
            & (
                dot * dot * F.lit(tau2_den)
                >= F.lit(tau2_num) * F.col("__ln") * F.col("__rn")
            )
        )
        .groupBy("__rid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dups"))
    )
    return a.join(dups, a[id_col] == dups["__rid"], "left").select(
        F.col(id_col),
        F.col("cluster"),
        F.coalesce(F.col("n_dups"), F.lit(0).cast("long")).alias("n_dups"),
        F.when(F.col("__rid").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_kept"),
    )


def top_principal_component_reference(
    vectors: list[list[float] | None],
    dim: int,
    scale: int = 10_000,
    v_scale: int = 1_000,
    iters: int = 8,
    dp: int = 6,
) -> list[tuple[int, int, int, float]]:
    """``top_principal_component`` in Python ints: the per-iteration
    power step ``w = X'ᵀ(X'v)`` over rows whose every element is
    non-NULL (a NULL element nulls the row's BIGINT dot, which the sums
    skip). ``n_rows`` and the mean's divisor count every row, NULL
    vectors included; the mean sums skip NULL elements per column."""
    def quant(x):
        return None if x is None else math.floor(float(x) * scale + 0.5)

    q = [None if vec is None else [quant(x) for x in vec] for vec in vectors]
    n = len(q)
    if n == 0:
        return []
    c = [
        sum(r[j] for r in q if r is not None and r[j] is not None) // n
        for j in range(dim)
    ]
    qc = [
        [r[j] - c[j] for j in range(dim)]
        for r in q
        if r is not None and None not in r
    ]
    v = [(j * 2654435761) % (2 * v_scale + 1) - v_scale for j in range(dim)]
    for _ in range(iters):
        s = [sum(x[k] * v[k] for k in range(dim)) for x in qc]
        w = [sum(si * x[j] for si, x in zip(s, qc)) for j in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [x * v_scale // m for x in w]
    for x in v:
        if x != 0:
            if x < 0:
                v = [-y for y in v]
            break
    sv2 = sum(sum(x[k] * v[k] for k in range(dim)) ** 2 for x in qc)
    tot = sum(e * e for x in qc for e in x)
    vv = sum(x * x for x in v)
    share = float(sv2) / (vv * float(tot)) if vv > 0 and tot > 0 else 0.0
    share = math.floor(share * 10**dp + 0.5) / 10**dp
    return [(j, v[j], n, share) for j in range(dim)]


# -- hashed-feature classifier (operators/classifier.py) --------------------


def train_quality_classifier_staged(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    buckets: int = 128,
    iters: int = 12,
    lr_num: int = 16,
    lr_den: int = 1,
    scale_bits: int = 20,
    clamp: int = 16,
    hash_fn: str = "poly",
) -> list[list[int]]:
    """The GD trajectory with every step as interpreted Spark SQL: the
    per-token bucket fold, the margin fold against a broadcast weight
    row, the clamp, the Elliott residual ``(2·num + den) div (2·den)``
    and one ``groupBy(feature)`` sum over the exploded presence
    features (bias feature ``buckets`` on every row, NULL text too)."""
    scale = 1 << scale_bits
    base = df.select(
        _cls._bucket_set_fold(F.col(text_col), buckets, hash_fn).alias(
            "__bs"
        ),
        F.col(label_col).cast("long").alias("__y"),
    ).localCheckpoint(eager=True)
    n = base.count()
    if n == 0:
        raise ValueError("train_quality_classifier: empty training frame")
    feat = F.concat(
        F.coalesce(F.col("__bs"), F.array().cast("array<long>")),
        F.array(F.lit(buckets).cast("long")),
    )
    w = [0] * (buckets + 1)
    traj = [list(w)]
    lim = clamp * scale
    spark = df.sparkSession
    for it in range(1, iters + 1):
        wrow = spark.createDataFrame(
            [([int(x) for x in w[:-1]], int(w[-1]))],
            "__warr array<bigint>, __wb bigint",
        )
        z = F.coalesce(
            F.aggregate(
                F.col("__bs"),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + F.element_at("__warr", (j + 1).cast("int")),
            ),
            F.lit(0),
        ) + F.col("__wb")
        zc = F.greatest(F.least(z, F.lit(lim)), F.lit(-lim)).cast("long")
        zbase = base.crossJoin(F.broadcast(wrow)).select(
            "__y", "__bs", zc.alias("__zc")
        )
        az = F.abs(F.col("__zc"))
        res_base = zbase.select(
            "__y",
            "__bs",
            ((F.lit(scale) + az + F.col("__zc")) * F.lit(scale)).alias(
                "__num"
            ),
            (F.lit(2).cast("long") * (F.lit(scale) + az)).alias("__den"),
        )
        res = (
            F.expr("(2 * __num + __den) div (2 * __den)")
            - F.col("__y") * F.lit(scale)
        ).cast("long")
        g = {
            int(r["__j"]): int(r["__g"])
            for r in res_base.select(
                res.alias("__r"), F.explode(feat).alias("__j")
            )
            .groupBy("__j")
            .agg(F.sum("__r").alias("__g"))
            .collect()
        }
        w = [
            w[j] - (lr_num * g.get(j, 0)) // (lr_den * it * n)
            for j in range(buckets + 1)
        ]
        traj.append(list(w))
    return traj


# -- per-char / per-shingle HOF hashes --------------------------------------


def hash31_fold(key, hash_fn: str):
    """``sketches._hash31`` / the Bloom shingle hash with the poly
    profile as the interpreted per-char fold."""
    if hash_fn == "poly":
        return poly_hash31(key)
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(key), F.lit(_M31))
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def window_hash_arr_fold(text_col: str, n: int):
    """``dedup._window_hash_arr`` as the slice/zip_with HOF."""
    return shingle_hash_array(tokens(text_col), n)


# -- MinHash signatures and float folds (operators/dedup.py) ----------------


def minhash_signatures_explode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """``dedup.minhash_signatures`` as one row per (doc, distinct
    shingle hash) and ``num_hashes`` MIN aggregates — map-side partials,
    one exchange of num_hashes longs per doc. A doc with no shingle has
    no row; the poly profile gives NULL text one empty shingle."""
    if base_hash == "poly":
        hash_arr = F.transform(
            word_shingles(tokens(text_col), shingle_len),
            lambda s: poly_hash31(s),
        )
    else:
        hash_arr = shingle_hash_array(tokens(text_col), shingle_len)
    coeffs = minhash_coeffs(num_hashes, seed)
    shingled = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(hash_arr)).alias("__h"),
    )
    aggs = [
        F.min((F.col("__h") * a + b) % _M31).alias(f"__mh{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return shingled.groupBy("__id").agg(*aggs).select(
        "__id",
        F.array(*[f"__mh{j}" for j in range(num_hashes)]).alias("__sig"),
    )


def srp_band_keys_fold(v, planes, num_bands: int, bits_per_band: int):
    """``arrow_hash.srp_band_keys_udf``'s keys with one interpreted
    ``dot_product`` fold per plane: ``band_offset + Σ 1<<r`` over the
    band's planes whose dot is ``>= 0``."""
    keys = []
    for j in range(num_bands):
        key = F.lit(j * (1 << bits_per_band)).cast("long")
        for r in range(bits_per_band):
            plane = F.array(
                *[F.lit(float(x)) for x in planes[j * bits_per_band + r]]
            )
            key = key + F.when(
                dot_product(v, plane) >= 0, F.lit(1 << r)
            ).otherwise(F.lit(0))
        keys.append(key)
    return F.array(*keys)


def pair_cosine_fold(exact=None):
    """``dedup._pair_cosine`` as the interpreted fold over legs
    ``a``/``b`` (``__v``, ``__nrm``); a zero vector scores 0."""
    return F.when(
        (F.col("a.__nrm") == 0.0) | (F.col("b.__nrm") == 0.0), F.lit(0.0)
    ).otherwise(
        dot_product(F.col("a.__v"), F.col("b.__v"))
        / (F.col("a.__nrm") * F.col("b.__nrm"))
    )


def assign_clusters_fold(base: DataFrame, seed_rows: list, exact=None):
    """``dedup._assign_clusters`` as a max over ``(cosine, -seed_id)``
    structs with one interpreted ``dot_product`` fold per seed: a zero
    seed never wins, a zero vector scores 0 against every seed."""
    choices = []
    for r in seed_rows:
        vec = [float(x) for x in r["__v"]]
        sn = math.sqrt(sum(x * x for x in vec))
        if sn == 0.0:
            cos_expr = F.lit(-2.0)
        else:
            cos_expr = F.when(F.col("__nrm") == 0.0, F.lit(0.0)).otherwise(
                dot_product(F.col("__v"), F.array(*[F.lit(x) for x in vec]))
                / (F.col("__nrm") * sn)
            )
        choices.append(
            F.struct(cos_expr.alias("cos"), F.lit(-r["__id"]).alias("negsid"))
        )
    return base.withColumn(
        "__cluster", -F.array_max(F.array(*choices))["negsid"]
    )


# -- Bloom decontamination (operators/decontaminate.py) ---------------------


def _shingle_set(text_col: str, shingle_len: int):
    return F.array_distinct(word_shingles(tokens(text_col), shingle_len))


def bloom_build_fold(
    benchmark: DataFrame,
    text_col: str = "text",
    shingle_len: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 17,
    hash_fn: str = "xxhash64",
) -> list[int]:
    """``bloom_build``: distinct shingles, one 31-bit hash each (let-bound
    so the k rehashes share it), ``(h·a + b) mod M31 mod m_bits``."""
    coeffs = minhash_coeffs(k_hashes, seed)
    sh = benchmark.select(
        F.explode(_shingle_set(text_col, shingle_len)).alias("__sh")
    ).distinct()
    pos = sh.select(
        F.explode(
            _let(
                hash31_fold(F.col("__sh"), hash_fn),
                lambda hv: F.array(
                    *[
                        (hv * F.lit(a) + F.lit(b))
                        % F.lit(_M31)
                        % F.lit(m_bits)
                        for a, b in coeffs
                    ]
                ),
            )
        ).alias("__p")
    ).distinct()
    bitmap = [0] * ((m_bits + 63) // 64)
    for r in pos.collect():
        p = int(r["__p"])
        bitmap[p >> 6] |= 1 << (p & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in bitmap]


def bloom_member(h, bm, coeffs: list, m_bits: int):
    """In-row Bloom membership of a precomputed 31-bit hash: every
    universal-family bit is set in the bitmap ``bm`` (long array)."""
    cond = None
    for a, b in coeffs:
        p = (h * F.lit(a) + F.lit(b)) % F.lit(_M31) % F.lit(m_bits)
        word = F.element_at(
            bm, (F.floor(p / F.lit(64)) + F.lit(1)).cast("int")
        )
        c = F.getbit(word, F.pmod(p, F.lit(64)).cast("int")) == F.lit(1)
        cond = c if cond is None else (cond & c)
    return cond


def bloom_flag_contaminated_fold(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: int = 1,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 17,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``bloom_flag_contaminated`` as HOF pipelines: phase 1 keeps each
    doc's distinct shingles whose k bits are all set in the bitmap
    (a broadcast row), phase 2 joins them to the benchmark's distinct
    shingle strings."""
    bitmap = bloom_build_fold(
        benchmark, text_col, shingle_len, m_bits, k_hashes, seed, hash_fn
    )
    coeffs = minhash_coeffs(k_hashes, seed)
    bm_df = corpus.sparkSession.createDataFrame(
        [(bitmap,)], "__bm array<bigint>"
    )
    hashed = F.transform(
        _shingle_set(text_col, shingle_len),
        lambda s: F.struct(
            s.alias("s"), hash31_fold(s, hash_fn).alias("h")
        ),
    )
    cand = (
        corpus.crossJoin(F.broadcast(bm_df))
        .select(
            F.col(id_col).alias("__id"),
            F.transform(
                F.filter(
                    hashed,
                    lambda q: bloom_member(
                        q["h"], F.col("__bm"), coeffs, m_bits
                    ),
                ),
                lambda q: q["s"],
            ).alias("__cand"),
        )
        .filter(F.size("__cand") > 0)
    )
    bench_shingles = benchmark.select(
        F.explode(_shingle_set(text_col, shingle_len)).alias("__sh")
    ).distinct()
    overlaps = (
        cand.select("__id", F.explode("__cand").alias("__sh"))
        .join(bench_shingles, "__sh")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )
    n = F.coalesce(F.col("n_overlaps"), F.lit(0))
    return (
        corpus.select(F.col(id_col))
        .join(overlaps, corpus[id_col] == overlaps["__id"], "left")
        .select(
            F.col(id_col),
            n.cast("long").alias("n_overlaps"),
            (n >= threshold).alias("contaminated"),
        )
    )
