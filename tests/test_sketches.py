"""HyperLogLog + Count-Min sketches: python-reference register
equality, estimate determinism, and the Count-Min overestimate
theorem."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.functions.columns import minhash_coeffs
from kamu_engine_datafusion_spark.operators.sketches import (
    cm_counters,
    cm_heavy_hitter_report,
    cm_lookup,
    hll_alpha,
    hll_distinct_report,
    hll_estimate,
    hll_registers,
)

_M31 = 2_147_483_647


def _poly(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % _M31
    return acc


def _rho(w: int, cap: int) -> int:
    if w == 0:
        return cap
    r = 1
    while w % 2 == 0:
        w //= 2
        r += 1
    return r


# seeded-random words, NOT sequential "key0001"-style strings: the
# 31-bit poly hash of consecutive strings differs only in low bits, so
# h >> b collapses runs of 64 to one register update — a measured
# adversarial case for trailing-zero HLL (estimate 109 vs 401 truth).
# Real shingle streams hash fine (<4% error at every SF, SCALE.md).
_rng = __import__("random").Random(0)
_WORDS = [
    "".join(_rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
    for _ in range(400)
] + ["needle-a", "needle-b"] * 30


def test_hll_registers_match_python_reference(spark):
    b = 6
    df = spark.createDataFrame([(w,) for w in _WORDS], ["k"]).withColumn(
        "g", F.lit("all")
    )
    got = {
        r["bucket"]: r["r"]
        for r in hll_registers(df, ["g"], "k", b=b).collect()
    }
    want: dict[int, int] = {}
    for w in _WORDS:
        h = _poly(w)
        bucket, rest = h % (1 << b), h >> b
        want[bucket] = max(want.get(bucket, 0), _rho(rest, 31 - b + 1))
    assert got == want


def test_hll_estimate_matches_python_float_math(spark):
    b = 6
    m = 1 << b
    df = spark.createDataFrame([(w,) for w in _WORDS], ["k"]).withColumn(
        "g", F.lit("all")
    )
    regs = hll_registers(df, ["g"], "k", b=b)
    row = hll_estimate(regs, ["g"], b=b).collect()[0]
    # python reference with the same dyadic terms — must be bit-equal,
    # not approximately equal: every 2^-r is exact in a double
    rs = [r["r"] for r in regs.collect()]
    s = sum(1.0 / (1 << r) for r in rs) + float(m - len(rs))
    assert row["zeros"] == m - len(rs)
    assert row["hll_raw"] == hll_alpha(m) * m * m / s
    # and the estimate is in a sane band for ~400 distinct keys
    assert 250 < row["hll_raw"] < 650


def test_hll_report_shape_and_exactness(spark):
    df = spark.createDataFrame(
        [(w, "g%d" % (i % 2)) for i, w in enumerate(_WORDS)], ["k", "g"]
    )
    rows = hll_distinct_report(df, ["g"], "k", b=6).collect()
    assert {r["g"] for r in rows} == {"g0", "g1"}
    truth = Counter()
    for i, w in enumerate(_WORDS):
        truth["g%d" % (i % 2)] = truth["g%d" % (i % 2)]
    exact = {
        g: len({w for i, w in enumerate(_WORDS) if "g%d" % (i % 2) == g})
        for g in ("g0", "g1")
    }
    for r in rows:
        assert r["exact_distinct"] == exact[r["g"]]
        assert 0 <= r["zeros"] <= 64
        assert r["within_sigma"] in (0, 1)


def test_cm_overestimate_theorem_under_forced_collisions(spark):
    # width=4 forces heavy collisions; the estimate must STILL never
    # undercount — that's the sketch's defining invariant
    df = spark.createDataFrame([(w,) for w in _WORDS], ["k"])
    rep = cm_heavy_hitter_report(df, "k", top_k=50, depth=3, width=4, seed=7)
    rows = rep.collect()
    assert len(rows) == 50
    truth = Counter(_WORDS)
    for r in rows:
        assert r["freq"] == truth[r["k"]]
        assert r["cm_est"] >= r["freq"]
        assert r["is_overestimate"] == 1


def test_cm_exact_when_grid_is_collision_free(spark):
    # 3 distinct keys, width 64, depth 4: astronomically unlikely to
    # collide -> estimates equal exact counts
    data = ["a"] * 5 + ["b"] * 3 + ["c"] * 2
    df = spark.createDataFrame([(w,) for w in data], ["k"])
    rep = {
        r["k"]: r
        for r in cm_heavy_hitter_report(
            df, "k", top_k=3, depth=4, width=64, seed=7
        ).collect()
    }
    assert {k: rep[k]["cm_est"] for k in rep} == {"a": 5, "b": 3, "c": 2}
    assert all(r["rel_err"] == 0.0 for r in rep.values())


def test_cm_lookup_absent_key_reads_zero_or_collisions(spark):
    corpus = spark.createDataFrame([("a",), ("b",)], ["k"])
    grid = cm_counters(corpus, "k", depth=4, width=1024, seed=7)
    queries = spark.createDataFrame([("zzz-not-present",)], ["k"])
    row = cm_lookup(grid, queries, "k", depth=4, width=1024, seed=7).collect()[
        0
    ]
    # min over 4 rows of a 1024-wide grid holding 2 keys: at least one
    # probed cell is empty with overwhelming probability -> 0; never
    # negative, never above the total stream length
    assert 0 <= row["cm_est"] <= 2


def test_cm_counters_match_python_reference(spark):
    depth, width, seed = 4, 32, 7
    df = spark.createDataFrame([(w,) for w in _WORDS], ["k"])
    got = {
        (r["i"], r["bucket"]): r["c"]
        for r in cm_counters(df, "k", depth, width, seed).collect()
    }
    want: Counter = Counter()
    coeffs = minhash_coeffs(depth, seed)
    for w in _WORDS:
        h = _poly(w)
        for i, (a, c) in enumerate(coeffs):
            want[(i, (a * h + c) % _M31 % width)] += 1
    assert got == dict(want)


def test_hll_registers_merge_by_elementwise_max(spark):
    # THE defining sketch property: registers of (A ∪ B) == elementwise
    # max of A's and B's registers — what makes a 100 TB fold correct
    # (partial max per partition, merged by the same max)
    half = len(_WORDS) // 2
    a = spark.createDataFrame([(w,) for w in _WORDS[:half]], ["k"]).withColumn(
        "g", F.lit("all")
    )
    b = spark.createDataFrame([(w,) for w in _WORDS[half:]], ["k"]).withColumn(
        "g", F.lit("all")
    )
    u = spark.createDataFrame([(w,) for w in _WORDS], ["k"]).withColumn(
        "g", F.lit("all")
    )
    regs = lambda df: {  # noqa: E731
        r["bucket"]: r["r"] for r in hll_registers(df, ["g"], "k", b=6).collect()
    }
    ra, rb, ru = regs(a), regs(b), regs(u)
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert merged == ru


def test_cm_grids_merge_by_cellwise_sum(spark):
    # Count-Min's mergeability: counters of (A ⊎ B) == cellwise sum
    half = len(_WORDS) // 2
    mk = lambda ws: spark.createDataFrame([(w,) for w in ws], ["k"])  # noqa: E731
    grid = lambda df: {  # noqa: E731
        (r["i"], r["bucket"]): r["c"]
        for r in cm_counters(df, "k", 3, 64, 7).collect()
    }
    ga, gb, gu = grid(mk(_WORDS[:half])), grid(mk(_WORDS[half:])), grid(mk(_WORDS))
    merged = Counter()
    for g in (ga, gb):
        for cell, c in g.items():
            merged[cell] += c
    assert dict(merged) == gu


# ---------------------------------------------------------------------------
# property tests (hypothesis): invariants for ANY corpus
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_corpus = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=120,
)


@_slow
@given(words=_corpus, b=st.integers(min_value=4, max_value=8))
def test_hll_registers_any_corpus_match_python(spark, words, b):
    df = spark.createDataFrame([(w,) for w in words], ["k"]).withColumn(
        "g", F.lit("all")
    )
    got = {
        r["bucket"]: r["r"]
        for r in hll_registers(df, ["g"], "k", b=b).collect()
    }
    want: dict[int, int] = {}
    for w in words:
        h = _poly(w)
        want[h % (1 << b)] = max(
            want.get(h % (1 << b), 0), _rho(h >> b, 31 - b + 1)
        )
    assert got == want


@_slow
@given(
    words=_corpus,
    depth=st.integers(min_value=1, max_value=5),
    width=st.integers(min_value=2, max_value=64),
)
def test_cm_never_undercounts_any_corpus(spark, words, depth, width):
    df = spark.createDataFrame([(w,) for w in words], ["k"])
    rep = cm_heavy_hitter_report(
        df, "k", top_k=len(set(words)), depth=depth, width=width, seed=7
    ).collect()
    truth = Counter(words)
    assert len(rep) == len(set(words))
    for r in rep:
        assert r["freq"] == truth[r["k"]]
        assert r["cm_est"] >= r["freq"]
        assert r["is_overestimate"] == 1


# ---------------------------------------------------------------------------
# Quantile sketch: deterministic hash-level sampling
# ---------------------------------------------------------------------------

from kamu_engine_datafusion_spark.operators.sketches import (  # noqa: E402
    quantile_sketch,
    quantile_sketch_estimates,
    quantile_sketch_merge,
    quantile_sketch_report,
)


def _tz(h: int) -> int:
    """Trailing zeros of a positive 31-bit hash (31 for h == 0)."""
    if h == 0:
        return 31
    t = 0
    while h % 2 == 0:
        h //= 2
        t += 1
    return t


def _py_qsketch(rows, k, salt="#qsk"):
    """Pure-python reference: rows = [(grp, id, val)] → {grp: (thr,
    {(id, val, lvl)})} via the same poly hash / trailing-zero level /
    canonical threshold."""
    from collections import defaultdict

    by = defaultdict(list)
    for g, i, v in rows:
        by[g].append((str(i), v, _tz(_poly(str(i) + salt))))
    out = {}
    for g, rs in by.items():
        if len(rs) <= k:
            thr = 0
        else:
            thr = 1 + max(
                L
                for L in {lvl for _, _, lvl in rs}
                if sum(1 for _, _, x in rs if x >= L) > k
            )
        out[g] = (thr, {(i, v, x) for i, v, x in rs if x >= thr})
    return out


def _mk_rows(n_a=900, n_b=40):
    rng = __import__("random").Random(7)
    rows = [("a", f"id{i:05d}", rng.randint(0, 10_000)) for i in range(n_a)]
    rows += [("b", f"bx{i:05d}", rng.randint(0, 100)) for i in range(n_b)]
    return rows


def test_qsketch_matches_python_reference(spark):
    rows = _mk_rows()
    df = spark.createDataFrame(rows, "g string, rid string, val long")
    sk = quantile_sketch(df, ["g"], "rid", "val", k=64)
    got = {}
    for r in sk.collect():
        got.setdefault(r["g"], (r["thr"], set()))[1].add(
            (r["rid"], r["val"], r["lvl"])
        )
        assert r["thr"] == got[r["g"]][0]  # thr constant per group
    assert got == _py_qsketch(rows, 64)


def test_qsketch_retained_is_always_bounded_by_k(spark):
    # S_thr <= k by construction of the canonical threshold (and when
    # thr = 0 the whole group fits) — so n_retained <= k ALWAYS
    rows = _mk_rows(n_a=2000, n_b=3)
    df = spark.createDataFrame(rows, "g string, rid string, val long")
    for k in (8, 64, 256):
        per = (
            quantile_sketch(df, ["g"], "rid", "val", k=k)
            .groupBy("g")
            .count()
            .collect()
        )
        assert all(r["count"] <= k for r in per)


def test_qsketch_small_group_is_exact(spark):
    # n <= k: threshold 0, every row retained, estimates = exact
    # quantiles of the data itself
    rows = [("s", f"r{i}", v) for i, v in enumerate([5, 1, 9, 3, 7])]
    df = spark.createDataFrame(rows, "g string, rid string, val long")
    sk = quantile_sketch(df, ["g"], "rid", "val", k=16)
    assert sk.count() == 5 and sk.agg(F.max("thr")).first()[0] == 0
    est = quantile_sketch_estimates(
        sk, ["g"], "rid", "val", qs=[(1, 2), (99, 100)]
    ).first()
    # sorted vals [1,3,5,7,9]: p50 idx = (1*4)//2+1 = 3 -> 5;
    # p99 idx = (99*4)//100+1 = 4 -> 7 (lower interpolation)
    assert est["q_1_2"] == 5 and est["q_99_100"] == 7


def test_qsketch_merge_equals_batch_sketch(spark):
    rows = _mk_rows(n_a=1200, n_b=30)
    df = spark.createDataFrame(rows, "g string, rid string, val long")
    parts = [
        df.filter(F.pmod(F.xxhash64("rid"), F.lit(3)) == i) for i in range(3)
    ]
    full = quantile_sketch(df, ["g"], "rid", "val", k=32)
    merged = quantile_sketch_merge(
        [quantile_sketch(p, ["g"], "rid", "val", k=32) for p in parts],
        ["g"],
        32,
    )
    cols = sorted(full.columns)
    a = sorted(tuple(r[c] for c in cols) for r in full.collect())
    b = sorted(tuple(r[c] for c in cols) for r in merged.collect())
    assert a == b and len(a) > 0


def test_qsketch_report_flags_on_uniform_data(spark):
    rows = _mk_rows(n_a=3000, n_b=0)
    df = spark.createDataFrame(rows, "g string, rid string, val long")
    rep = quantile_sketch_report(
        df, ["g"], "rid", "val", qs=[(1, 2), (9, 10)], k=256, eps=0.125
    ).first()
    assert rep["n"] == 3000 and rep["n_retained"] <= 256
    assert rep["ok_p1_2"] == 1 and rep["ok_p9_10"] == 1
    # the exact side really is the rank-selected element
    vals = sorted(v for _, _, v in rows)
    assert rep["exact_p1_2"] == vals[(1 * (3000 - 1)) // 2]


@_slow
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=150,
    ),
    k=st.integers(min_value=2, max_value=32),
    cut=st.integers(min_value=0, max_value=149),
)
def test_qsketch_merge_exact_any_corpus(spark, vals, k, cut):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) bit-for-bit, for
    ANY values, ANY k, ANY split point — the property the streaming
    fold and every distributed partial depend on."""
    rows = [("g", f"v{i:04d}", v) for i, v in enumerate(vals)]
    cut = min(cut, len(rows))
    df = spark.createDataFrame(rows, "g string, rid string, val long")
    pa_, pb_ = rows[:cut], rows[cut:]
    parts = []
    for p in (pa_, pb_):
        if p:
            parts.append(
                quantile_sketch(
                    spark.createDataFrame(
                        p, "g string, rid string, val long"
                    ),
                    ["g"], "rid", "val", k=k,
                )
            )
    merged = (
        quantile_sketch_merge(parts, ["g"], k)
        if len(parts) > 1
        else parts[0]
    )
    full = quantile_sketch(df, ["g"], "rid", "val", k=k)
    cols = sorted(full.columns)
    a = sorted(tuple(r[c] for c in cols) for r in full.collect())
    b = sorted(tuple(r[c] for c in cols) for r in merged.collect())
    assert a == b


def test_qsketch_null_id_and_value_rows_are_dropped_defined(spark):
    # NULL id would hash to a NULL level (silent vanish); NULL value
    # would sort below every real value — both are dropped UP FRONT,
    # and the report's exact side sees the same population
    rows = [
        ("g", "a", 5), ("g", "b", 1), ("g", None, 9), ("g", "d", None),
    ]
    df = spark.createDataFrame(rows, "g string, rid string, val long")
    sk = quantile_sketch(df, ["g"], "rid", "val", k=8)
    got = {(r["rid"], r["val"]) for r in sk.collect()}
    assert got == {("a", 5), ("b", 1)}
    rep = quantile_sketch_report(
        df, ["g"], "rid", "val", qs=[(1, 2)], k=8, eps=0.5
    ).first()
    assert rep["n"] == 2  # exact side matches the sketch population
    assert rep["exact_p1_2"] == 1  # rank over [1, 5] -> idx 1


# ---------------------------------------------------------------------------
# KMV distinct-count sketch (r12: staged for an r13 driver key)
# ---------------------------------------------------------------------------


def test_kmv_state_matches_python_reference(spark):
    """The retained rows ARE the k smallest distinct poly hashes of
    key || '#kmv' per group — replayed exactly in python (the recorded
    DuckDB-oracle design: distinct → row_number ≤ k over (grp, hv))."""
    from kamu_engine_datafusion_spark.operators.sketches import kmv_sketch

    rows = [(w[0], w) for w in _WORDS]
    df = spark.createDataFrame(rows, "g string, key string")
    got = sorted(
        (r["g"], r["hv"])
        for r in kmv_sketch(df, ["g"], "key", k=16).collect()
    )
    want = []
    bygroup: dict[str, set[int]] = {}
    for g, w in rows:
        bygroup.setdefault(g, set()).add(_poly(w + "#kmv"))
    for g, hvs in bygroup.items():
        want.extend((g, hv) for hv in sorted(hvs)[:16])
    assert got == sorted(want)


def test_kmv_merge_equals_batch_sketch(spark):
    """The exact merge law: merge of per-part sketches == the sketch
    of the union, row-for-row — disjoint AND overlapping parts (hv is
    idempotent under distinct)."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    rows = [(w[0], w) for w in _WORDS]
    df = spark.createDataFrame(rows, "g string, key string")
    full = kmv_sketch(df, ["g"], "key", k=16)
    parts = [
        df.filter(F.pmod(F.xxhash64("key"), F.lit(3)) == i)
        for i in range(3)
    ]
    merged = kmv_merge(
        [kmv_sketch(p, ["g"], "key", k=16) for p in parts], ["g"], 16
    )
    a = sorted(tuple(r) for r in full.collect())
    b = sorted(tuple(r) for r in merged.collect())
    assert a == b and len(a) > 0
    # overlapping parts: re-merging the full sketch with one part
    # changes nothing
    again = kmv_merge([full, kmv_sketch(parts[0], ["g"], "key", 16)],
                      ["g"], 16)
    c = sorted(tuple(r) for r in again.collect())
    assert c == a


def test_kmv_estimate_exact_below_k_and_close_above(spark):
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    rows = [("small", f"s{i}") for i in range(40)] + [
        ("big", w) for w in _WORDS
    ]
    df = spark.createDataFrame(rows, "g string, key string")
    est = {
        r["g"]: (r["n_state"], r["dv_est"])
        for r in kmv_estimate(
            kmv_sketch(df, ["g"], "key", k=64), ["g"], k=64
        ).collect()
    }
    # below k: exact
    assert est["small"] == (40, 40.0)
    # above k: within 25% of the true distinct count at k=64
    truth = len(set(w for g, w in rows if g == "big"))
    n_state, dv = est["big"]
    assert n_state == 64 and abs(dv - truth) / truth < 0.25


def test_kmv_partition_independent_and_null_keys_dropped(spark):
    from kamu_engine_datafusion_spark.operators.sketches import kmv_sketch

    rows = [("g", w) for w in _WORDS] + [("g", None)] * 5
    df = spark.createDataFrame(rows, "g string, key string")
    a = sorted(tuple(r) for r in kmv_sketch(df, ["g"], "key", 8).collect())
    b = sorted(
        tuple(r)
        for r in kmv_sketch(df.repartition(7), ["g"], "key", 8).collect()
    )
    assert a == b and len(a) == 8


def test_maintained_kmv_equals_batch(spark, tmp_path):
    """3-tick maintained fold == the batch KMV sketch of the whole
    ledger row-for-row (the exact merge law through the bucketed
    exactly-once protocol), and the live estimate reads from state."""
    import os

    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_kmv,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "kledger")
    state_dir = os.path.join(str(tmp_path), "kstate")
    ck = os.path.join(str(tmp_path), "kck")
    os.makedirs(ledger_dir)
    schema = "g string, key string"
    all_rows = []

    def tick(rows):
        all_rows.extend(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_kmv(
            ledger_dir, state_dir, ck, "g", "key", k=16,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    ws = list(_WORDS)
    tick([(w[0], w) for w in ws[:150]])
    tick([(w[0], w) for w in ws[150:300]])
    tick([(w[0], w) for w in ws[300:]] + [("zz", "dup"), ("zz", "dup")])
    state = read_maintained_state(spark, state_dir).select("g", "hv")
    got = sorted(tuple(r) for r in state.collect())
    want = sorted(
        tuple(r)
        for r in kmv_sketch(
            spark.createDataFrame(all_rows, schema), ["g"], "key", k=16
        ).collect()
    )
    assert got == want
    est = {
        r["g"]: r["dv_est"]
        for r in kmv_estimate(state, ["g"], k=16).collect()
    }
    assert est["zz"] == 1.0  # dup counted once, exact below k


def test_kmv_pairwise_jaccard_matches_python_and_truth(spark):
    """The set-operation estimator (Beyer et al. 2007): J_hat =
    |union-top-k ∩ both sketches| / |union-top-k| — replayed exactly
    in python, and within estimator error of the TRUE Jaccard on a
    corpus with planted overlap."""
    import math

    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_pairwise_jaccard,
        kmv_sketch,
    )

    # planted overlap: A∩B = 600 shared keys of 1000 each (J = 3/7),
    # C disjoint from both
    a = [("A", f"s{i}") for i in range(600)] + [
        ("A", f"a{i}") for i in range(400)
    ]
    b = [("B", f"s{i}") for i in range(600)] + [
        ("B", f"b{i}") for i in range(400)
    ]
    c = [("C", f"c{i}") for i in range(300)]
    df = spark.createDataFrame(a + b + c, "g string, key string")
    sk = kmv_sketch(df, ["g"], "key", k=128)
    got = {
        (r["grp_a"], r["grp_b"]): (
            r["n_union_sketch"], r["n_both"], r["jaccard_est"]
        )
        for r in kmv_pairwise_jaccard(sk, "g", k=128).collect()
    }
    # python replay from the same sketches
    state: dict[str, list[int]] = {}
    for g, key in a + b + c:
        state.setdefault(g, [])
    hv = {g: sorted({_poly(key + "#kmv") for gg, key in a + b + c
                     if gg == g})[:128] for g in state}
    for ga, gb in [("A", "B"), ("A", "C"), ("B", "C")]:
        union_k = sorted(set(hv[ga]) | set(hv[gb]))[:128]
        both = sum(1 for h in union_k if h in set(hv[ga]) and h in set(hv[gb]))
        want = (
            len(union_k),
            both,
            math.floor(both / len(union_k) * 1e4 + 0.5) / 1e4,
        )
        assert got[(ga, gb)] == want
    # estimator accuracy: true J(A,B) = 600/1400; error bound ~3/sqrt(k)
    assert abs(got[("A", "B")][2] - 600 / 1400) < 3 / math.sqrt(128)
    assert got[("A", "C")][2] == 0.0 and got[("B", "C")][2] == 0.0


@_slow
@given(
    keys=st.lists(
        st.text(
            alphabet="abcdefgh", min_size=1, max_size=6
        ),
        min_size=1,
        max_size=120,
    ),
    k=st.integers(min_value=1, max_value=24),
    cut=st.integers(min_value=0, max_value=119),
)
def test_kmv_merge_exact_any_corpus(spark, keys, k, cut):
    """merge(kmv(A), kmv(B)) == kmv(A ∪ B) row-for-row, for ANY key
    multiset, ANY k, ANY split point — duplicates across the split
    included (hv is idempotent under distinct); the property the
    maintained fold depends on."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    rows = [("g", w) for w in keys]
    cut = min(cut, len(rows))
    df = spark.createDataFrame(rows, "g string, key string")
    parts = []
    for p in (rows[:cut], rows[cut:]):
        if p:
            parts.append(
                kmv_sketch(
                    spark.createDataFrame(p, "g string, key string"),
                    ["g"], "key", k=k,
                )
            )
    merged = kmv_merge(parts, ["g"], k) if len(parts) > 1 else parts[0]
    full = kmv_sketch(df, ["g"], "key", k=k)
    a = sorted(tuple(r) for r in full.collect())
    b = sorted(tuple(r) for r in merged.collect())
    assert a == b


def test_verified_heavy_hitters_equals_direct_rule(spark):
    """CM candidates + exact verify == GROUP BY HAVING freq >= ceil(phi*N)
    exactly (no false negatives: the overestimate theorem guarantees
    recall; verify kills the false positives) — including under FORCED
    collisions (width=4) and at the exact threshold boundary."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        verified_heavy_hitters,
    )

    rows = (
        [("hot1",)] * 30 + [("hot2",)] * 12 + [("edge",)] * 10
        + [(f"tail{i}",) for i in range(948)]
    )
    # N = 1000, phi = 1/100 -> thr = 10: edge (exactly 10) is IN
    df = spark.createDataFrame(rows, "k string")
    for width in (256, 4):  # 4 forces heavy collisions
        got = sorted(
            (r["k"], r["freq"], r["n_total"])
            for r in verified_heavy_hitters(
                df, "k", 1, 100, width=width
            ).collect()
        )
        assert got == [
            ("edge", 10, 1000), ("hot1", 30, 1000), ("hot2", 12, 1000),
        ]
    # integer threshold: phi_num*N not divisible -> ceil, not floor
    # N = 1000, phi = 3/250 -> thr = 12: edge(10) out, hot2(12) in
    got2 = sorted(
        r["k"]
        for r in verified_heavy_hitters(df, "k", 3, 250).collect()
    )
    assert got2 == ["hot1", "hot2"]
    # NULL keys are excluded from N AND the candidates (defined
    # behavior; a NULL key can't ride the CM path)
    withnull = df.unionByName(
        spark.createDataFrame([(None,)] * 500, "k string")
    )
    r = sorted(
        (x["k"], x["n_total"])
        for x in verified_heavy_hitters(withnull, "k", 1, 100).collect()
    )
    assert r == [("edge", 1000), ("hot1", 1000), ("hot2", 1000)]


def test_maintained_corpus_card_equals_batch_card(spark, tmp_path):
    """The maintained data card: scalars fold additively, the distinct
    side folds by the KMV merge law — after 3 ticks the read-back card
    EQUALS the batch corpus_card (k sized above every group's distinct
    count, so the KMV side is exact), dup_rate included."""
    import os

    from kamu_engine_datafusion_spark.operators.text import corpus_card
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_corpus_card,
        read_maintained_corpus_card,
    )

    ledger_dir = os.path.join(str(tmp_path), "ccledger")
    state_dir = os.path.join(str(tmp_path), "ccstate")
    ck = os.path.join(str(tmp_path), "ccck")
    os.makedirs(ledger_dir)
    schema = "doc_id long, source string, text string"
    all_rows = []

    def tick(rows):
        all_rows.extend(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_corpus_card(
            ledger_dir, state_dir, ck, "source", "text", k=64,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    # srcA: 6 docs, 2 exact dups (after normalization) spread ACROSS
    # ticks — only the maintained distinct side can see that
    tick([
        (1, "srcA", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "srcA", "short doc"),
        (3, "srcB", "one two three four five six seven eight nine ten "
                    "eleven twelve thirteen fourteen fifteen sixteen "
                    "seventeen eighteen nineteen twenty twentyone"),
    ])
    tick([
        (4, "srcA", "ALPHA   beta gamma delta epsilon zeta eta theta"),
        (5, "srcB", "unique words here"),
    ])
    tick([
        (6, "srcA", "short doc"),
        (7, "srcA", "fresh content entirely"),
        (8, "srcA", "more fresh content"),
    ])
    got = sorted(
        tuple(r)
        for r in read_maintained_corpus_card(
            spark, state_dir, k=64
        ).collect()
    )
    batch = corpus_card(
        spark.createDataFrame(all_rows, schema), ["source"], "text"
    )
    want = sorted(
        (
            r["source"], r["n_docs"], r["n_tokens"], r["avg_tokens"],
            r["pct_short"], float(r["n_distinct_texts"]), r["dup_rate"],
            True,  # k=64 above every group's distinct count -> exact
        )
        for r in batch.collect()
    )
    assert got == want
    # the cross-tick dups were actually detected
    card = {r[0]: r for r in got}
    assert card["srcA"][1] == 6 and card["srcA"][5] == 4.0
    assert card["srcA"][6] > 0.0


def test_maintained_corpus_card_regimes_and_null_groups(spark, tmp_path):
    """is_exact flags the regime per group (k smaller than one group's
    distinct count -> estimate regime, flag false), and a group whose
    every text is NULL still surfaces on the card (left join): exact
    zero distinct texts, NULL dup rate."""
    import os

    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_corpus_card,
        read_maintained_corpus_card,
    )

    ledger_dir = os.path.join(str(tmp_path), "rledger")
    state_dir = os.path.join(str(tmp_path), "rstate")
    ck = os.path.join(str(tmp_path), "rck")
    os.makedirs(ledger_dir)
    schema = "doc_id long, source string, text string"
    rows = (
        # big: 12 distinct texts > k=8 -> estimate regime
        [(i, "big", f"doc number {i} words {i * 7}") for i in range(12)]
        # small: 3 docs, 2 distinct -> exact regime
        + [(100, "small", "same text"), (101, "small", "same text"),
           (102, "small", "other text")]
        # ghost: only NULL texts -> scalars row, zero KMV rows
        + [(200, "ghost", None), (201, "ghost", None)]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(ledger_dir)
    maintained_corpus_card(
        ledger_dir, state_dir, ck, "source", "text", k=8,
        schema=spark.read.parquet(ledger_dir).schema, spark=spark,
    ).awaitTermination()
    card = {
        r["grp"]: r
        for r in read_maintained_corpus_card(spark, state_dir, k=8).collect()
    }
    assert set(card) == {"big", "small", "ghost"}
    assert card["big"]["is_exact"] is False
    assert card["small"]["is_exact"] is True
    assert card["small"]["est_distinct_texts"] == 2.0
    g = card["ghost"]
    assert g["n_docs"] == 2 and g["is_exact"] is True
    assert g["est_distinct_texts"] == 0.0
    assert g["dup_rate_est"] is None


def test_verified_heavy_hitters_depth_one(spark):
    """depth=1 is a single CM row — the estimate is the lone lookup,
    not a one-arg least() (which raises at plan time); the two-phase
    result still equals the direct rule (overestimate theorem holds
    per row)."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        verified_heavy_hitters,
    )

    rows = [("a",)] * 30 + [("b",)] * 9 + [(f"t{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string")
    got = {
        (r["k"], r["freq"])
        for r in verified_heavy_hitters(
            df, "k", phi_num=1, phi_den=8, depth=1, width=64
        ).collect()
    }
    n = len(rows)
    thr = (n + 7) // 8
    direct = {
        (k, c)
        for k, c in (
            (r["k"], r["cnt"])
            for r in df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        if c >= thr
    }
    assert got == direct and ("a", 30) in got


@_slow
@given(
    keys=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=120,
    ),
    phi_num=st.integers(min_value=1, max_value=4),
    phi_den=st.integers(min_value=4, max_value=20),
    width=st.sampled_from([2, 8, 64]),
)
def test_verified_heavy_hitters_exact_any_corpus(
    spark, keys, phi_num, phi_den, width
):
    """For ANY key multiset, ANY φ, ANY grid width (2 forces brutal
    collisions): verified_heavy_hitters == the direct GROUP BY HAVING
    freq >= ceil(φN) rule — exactness is a theorem, not a tendency."""
    from collections import Counter

    from kamu_engine_datafusion_spark.operators.sketches import (
        verified_heavy_hitters,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = sorted(
        (r["k"], r["freq"], r["n_total"])
        for r in verified_heavy_hitters(
            df, "k", phi_num, phi_den, width=width
        ).collect()
    )
    n = len(keys)
    thr = (phi_num * n + phi_den - 1) // phi_den
    want = sorted(
        (k, c, n) for k, c in Counter(keys).items() if c >= thr
    )
    assert got == want


def test_kmv_pairwise_containment_detects_subset_source(spark):
    """Directional containment from sketches: a source that is 90% a
    subset of a bigger one reads C(sub→big) ≈ 0.9 while C(big→sub) and
    the symmetric Jaccard stay small — replayed exactly in python."""
    import math

    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_pairwise_containment,
        kmv_sketch,
    )

    # seeded-random keys, NOT sequential strings — poly31 of
    # same-length sequential strings clusters into a tight low-hash
    # band (the documented adversarial fixture class), which would
    # over-represent one side in any bottom-k sample
    rng = __import__("random").Random(7)

    def rk(n):
        return [
            "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(10)
            )
            for _ in range(n)
        ]

    shared_keys, big_own, sub_own = rk(450), rk(1550), rk(50)
    big = [("BIG", k) for k in shared_keys + big_own]
    # SUB: 450 keys shared with BIG + 50 own -> true C(SUB->BIG) = 0.9
    sub = [("SUB", k) for k in shared_keys + sub_own]
    df = spark.createDataFrame(big + sub, "g string, key string")
    sk = kmv_sketch(df, ["g"], "key", k=256)
    got = {
        (r["grp_a"], r["grp_b"]): (
            r["n_a_in_union"], r["n_both"], r["containment_a_in_b"]
        )
        for r in kmv_pairwise_containment(sk, "g", k=256).collect()
    }
    # python replay from the same sketches
    hv = {
        g: sorted(
            {_poly(key + "#kmv") for gg, key in big + sub if gg == g}
        )[:256]
        for g in ("BIG", "SUB")
    }
    for ga, gb in [("SUB", "BIG"), ("BIG", "SUB")]:
        union_k = sorted(set(hv[ga]) | set(hv[gb]))[:256]
        n_a = sum(1 for h in union_k if h in set(hv[ga]))
        n_both = sum(
            1 for h in union_k if h in set(hv[ga]) and h in set(hv[gb])
        )
        want = (
            n_a,
            n_both,
            math.floor(n_both / n_a * 1e4 + 0.5) / 1e4 if n_a else None,
        )
        assert got[(ga, gb)] == want
    # estimator accuracy: true C(SUB->BIG) = 0.9, C(BIG->SUB) = 450/2000
    assert abs(got[("SUB", "BIG")][2] - 0.9) < 3 / math.sqrt(256) + 0.05
    assert got[("BIG", "SUB")][2] < 0.45


def test_kmv_overlap_monitor_equals_both_estimators(spark):
    """The one-pass combined matrix == the join of the two standalone
    estimators row-for-row (same union-top-k membership frame, computed
    once instead of twice), on a corpus with planted overlap + a
    planted subset source."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_overlap_monitor,
        kmv_pairwise_containment,
        kmv_pairwise_jaccard,
        kmv_sketch,
    )

    rng = __import__("random").Random(3)

    def rk(n):
        return [
            "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(10)
            )
            for _ in range(n)
        ]

    shared, a_own, b_own, c_own = rk(300), rk(200), rk(700), rk(150)
    rows = (
        [("A", k) for k in shared + a_own]
        + [("B", k) for k in shared + b_own]
        + [("C", k) for k in c_own]
    )
    df = spark.createDataFrame(rows, "g string, key string")
    sk = kmv_sketch(df, ["g"], "key", k=64)
    got = {
        (r["grp_a"], r["grp_b"]): tuple(r)[2:]
        for r in kmv_overlap_monitor(sk, "g", k=64).collect()
    }
    con = {
        (r["grp_a"], r["grp_b"]): (
            r["n_a_in_union"], r["n_both"], r["containment_a_in_b"]
        )
        for r in kmv_pairwise_containment(sk, "g", k=64).collect()
    }
    jac = {
        (r["grp_a"], r["grp_b"]): (r["n_union_sketch"], r["jaccard_est"])
        for r in kmv_pairwise_jaccard(sk, "g", k=64).collect()
    }
    assert set(got) == set(con) and len(got) == 6
    for (ga, gb), vals in got.items():
        ja, jb = min(ga, gb), max(ga, gb)
        assert vals == con[(ga, gb)] + jac[(ja, jb)]


def test_read_maintained_kmv_overlap_equals_batch(spark, tmp_path):
    """The live overlap matrix read from 3-tick maintained KMV state
    == the batch kmv_overlap_monitor over the whole ledger (the exact
    merge law carried through to the matrix): the monitor never
    re-reads the corpus, only folded state."""
    import os

    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_overlap_monitor,
        kmv_sketch,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_kmv,
        read_maintained_kmv_overlap,
    )

    ledger_dir = os.path.join(str(tmp_path), "oledger")
    state_dir = os.path.join(str(tmp_path), "ostate")
    ck = os.path.join(str(tmp_path), "ock")
    os.makedirs(ledger_dir)
    schema = "g string, key string"
    all_rows = []

    rng = __import__("random").Random(11)

    def rk(n):
        return [
            "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(9)
            )
            for _ in range(n)
        ]

    shared, x_own, y_own = rk(120), rk(80), rk(300)
    # X mostly a subset of Y; ticks split each source mid-overlap so
    # the matrix must see hashes folded across tick boundaries
    x = [("X", k) for k in shared + x_own]
    y = [("Y", k) for k in shared + y_own]
    ticks = [x[:100] + y[:150], x[100:] + y[150:300], y[300:]]

    def tick(rows):
        all_rows.extend(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_kmv(
            ledger_dir, state_dir, ck, "g", "key", k=64,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    for t in ticks:
        tick(t)
    live = sorted(
        tuple(r)
        for r in read_maintained_kmv_overlap(
            spark, state_dir, "g", k=64
        ).collect()
    )
    batch_sk = kmv_sketch(
        spark.createDataFrame(all_rows, schema), ["g"], "key", k=64
    )
    want = sorted(
        tuple(r) for r in kmv_overlap_monitor(batch_sk, "g", k=64).collect()
    )
    assert live == want and len(live) == 2
    # the planted subset is visible from state alone: C(X->Y) high,
    # Jaccard diluted by Y's size
    by_pair = {(r[0], r[1]): r for r in live}
    assert by_pair[("X", "Y")][4] > 0.5  # containment_a_in_b
    assert by_pair[("X", "Y")][6] < by_pair[("X", "Y")][4]  # jaccard <


def test_read_maintained_heavy_hitters_equals_batch(spark, tmp_path):
    """Heavy hitters with phase 1 read from 3-tick maintained_countmin
    state == the batch verified_heavy_hitters over the whole ledger ==
    the direct GROUP BY HAVING ceil(phi*N) rule: the CM fold is
    cell-wise addition so the stored grid IS the batch grid, and the
    whole live query is one ledger scan. NULL keys excluded on both
    paths (the NULL-bucket cells the raw fold stores are dropped)."""
    import math
    import os

    from kamu_engine_datafusion_spark.operators.sketches import (
        verified_heavy_hitters,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_countmin,
        read_maintained_heavy_hitters,
    )

    ledger_dir = os.path.join(str(tmp_path), "hhledger")
    state_dir = os.path.join(str(tmp_path), "hhstate")
    ck = os.path.join(str(tmp_path), "hhck")
    os.makedirs(ledger_dir)
    rng = __import__("random").Random(21)
    # skewed key stream: a few hot keys + a long tail + NULLs
    all_rows = (
        [("hot1",)] * 300
        + [("hot2",)] * 150
        + [(f"t{rng.randrange(400)}",) for _ in range(1_000)]
        + [(None,)] * 9
    )
    rng.shuffle(all_rows)

    def tick(rows):
        spark.createDataFrame(rows, "key string").coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_countmin(
            ledger_dir, state_dir, ck, "key", depth=4, width=64, seed=7,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    tick(all_rows[:500])
    tick(all_rows[500:1_000])
    tick(all_rows[1_000:])
    full = spark.createDataFrame(all_rows, "key string")
    got = sorted(
        tuple(r)
        for r in read_maintained_heavy_hitters(
            spark, state_dir, full, "key", phi_num=1, phi_den=20,
            depth=4, width=64, seed=7,
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in verified_heavy_hitters(
            full, "key", phi_num=1, phi_den=20, depth=4, width=64, seed=7
        ).collect()
    )
    assert got == want and len(got) >= 2  # hot1 + hot2 at least
    # and both equal the direct rule over non-NULL keys
    n = 1_450
    thr = math.ceil(n / 20)
    from collections import Counter

    cnt = Counter(k for (k,) in all_rows if k is not None)
    direct = sorted(
        (k, c, n) for k, c in cnt.items() if c >= thr
    )
    assert got == direct


def test_heavy_hitters_from_grid_geometry_mismatch_raises(spark):
    """A grid folded under one geometry read back under another would
    silently under-count candidates (missing cells read as 0) — the
    reader raises loudly instead."""
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.sketches import (
        cm_counters,
        heavy_hitters_from_grid,
    )

    df = spark.createDataFrame([(w,) for w in _WORDS], ["key"])
    grid = cm_counters(df, "key", depth=4, width=64, seed=7)
    with _pytest.raises(ValueError, match="grid geometry"):
        heavy_hitters_from_grid(
            grid, df, "key", 1, 100, depth=4, width=32, seed=7
        ).collect()
    with _pytest.raises(ValueError, match="grid geometry"):
        heavy_hitters_from_grid(
            grid, df, "key", 1, 100, depth=2, width=64, seed=7
        ).collect()
    # the REVERSE mismatch (fold depth SMALLER than the read's) passes
    # the per-cell bound but leaves whole rows at zero — r13 advice:
    # must also raise, not silently return no candidates
    small = cm_counters(df, "key", depth=2, width=64, seed=7)
    with _pytest.raises(ValueError, match="smaller depth"):
        heavy_hitters_from_grid(
            small, df, "key", 1, 100, depth=4, width=64, seed=7
        ).collect()


# ---------------------------------------------------------------------------
# r17: arrow backend of the "poly" hash profile
# ---------------------------------------------------------------------------


def test_poly31_arrow_matches_hof_fold(spark):
    """The vectorized poly31 kernel (functions/arrow_hash.py) is
    bit-exact with the SQL-replayable HOF fold — incl. unicode (the
    fold is over code points), empty strings, NULLs, and long strings."""
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        poly31_hash_udf,
    )
    from kamu_engine_datafusion_spark.functions.columns import poly_hash31

    cases = [
        "", "a", "0", "hello world", "12345-6", "x" * 47, "z" * 300,
        "héllo", "Ünïcödé",
        "日本語", "emoji \U0001f600 test",
        "\t \n", "A|1-9#qsk", "Ω" * 49, " bare", "trail ", None,
    ] + [f"{i}-{i % 7}#qsk" for i in range(500)]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    out = df.select(
        poly31_hash_udf()(F.col("s")).alias("fast"),
        poly_hash31(F.col("s")).alias("slow"),
    ).collect()
    assert all(r["fast"] == r["slow"] for r in out)


def test_quantile_sketch_backend_twins(spark, monkeypatch):
    """quantile_sketch retains the identical rows whether the poly key
    hash runs the vectorized kernel or the interpreted per-char fold
    (patched in from the test-side reference)."""
    from kamu_engine_datafusion_spark.operators import sketches as S
    from tests import jvm_twins as J

    df = spark.createDataFrame(
        [(g, str(i), (i * 37) % 101) for g in ("a", "b") for i in range(400)],
        ["g", "rid", "val"],
    )
    rows_arrow = sorted(
        map(tuple, quantile_sketch(df, ["g"], "rid", "val", k=32).collect())
    )
    monkeypatch.setattr(S, "_hash31", J.hash31_fold)
    rows_jvm = sorted(
        map(tuple, quantile_sketch(df, ["g"], "rid", "val", k=32).collect())
    )
    assert rows_arrow == rows_jvm
