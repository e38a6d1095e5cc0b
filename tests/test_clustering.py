"""Connected-components clustering over near-dup edges."""

from __future__ import annotations

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators import dedup as D
from kamu_engine_datafusion_spark.operators.clustering import (
    connected_components,
    dedup_by_components,
)


def test_components_resolve_chains(spark):
    # components: {1,2,3,4} via chain, {10,11}, {20} isolated not in edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_cross_chain_merge(spark):
    # two chains that merge late: {1-2, 3-4, 2-3} -> all one component
    pairs = spark.createDataFrame([(3, 4), (1, 2), (2, 3)], ["id_a", "id_b"])
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {1}


def test_dedup_by_components_end_to_end(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (9, "entirely unrelated text about query engines"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.ngram_jaccard_pairs(
        docs.withColumn("src", F.lit("a")), block_cols="src", threshold=0.6
    ).select("id_a", "id_b")
    out = dedup_by_components(docs, pairs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 9]  # 2 and 3 fold into 1's component; 9 untouched


def test_non_convergence_warns_and_strict_raises(spark):
    """An unconverged run must not silently return split components."""
    import pytest

    n = 500  # a 500-edge path cannot be fully contracted in one round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(edges, max_iterations=1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=1, strict=True)


def test_long_path_converges_in_log_rounds(spark):
    """Large/small-star contracts a 500-node path (diameter 500) within
    ~log rounds — min-label propagation would need 500. max_iterations=10
    doubles as the round-count assertion: exceeding it warns, and warnings
    are errors here."""
    import warnings

    n = 500
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        comps = connected_components(edges, max_iterations=10)
        got = {r["node"]: r["component"] for r in comps.collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_star_vs_bruteforce_random_graphs(spark):
    """Property check: on random sparse graphs the star algorithm must
    match a driver-side union-find ground truth."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        n, m = 60, 45
        es = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        es = [(a, b) for a, b in es if a != b]
        # union-find ground truth
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in es:
            parent[find(a)] = find(b)
        want = {}
        for a, b in es:
            for v in (a, b):
                r = find(v)
                want[v] = min(w for w in range(n) if find(w) == r)
        comps = connected_components(
            spark.createDataFrame(es, "id_a long, id_b long")
        )
        got = {r["node"]: r["component"] for r in comps.collect()}
        assert got == want, f"trial {trial}"


def test_canonical_by_score_keeps_best_member(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        canonical_by_score,
        dedup_by_components,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, 50.0), (4, 7.0), (5, 3.0), (9, 1.0)],
        "doc_id long, quality double",
    )
    # components {1,2,3} and {4,5}; 9 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"] for r in canonical_by_score(df, pairs, "quality").collect()
    )
    assert kept == [2, 4, 9]  # best of each component + the loner
    # contrast: min-id survivor picks 1 and 4
    kept_min = sorted(
        r["doc_id"] for r in dedup_by_components(df, pairs).collect()
    )
    assert kept_min == [1, 4, 9]
    # tie on score -> min id wins
    df2 = spark.createDataFrame(
        [(1, 5.0), (2, 5.0)], "doc_id long, quality double"
    )
    pairs2 = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    assert [
        r["doc_id"] for r in canonical_by_score(df2, pairs2, "quality").collect()
    ] == [1]


# ---------------------------------------------------------------------------
# kmeans_fixed_point
# ---------------------------------------------------------------------------


def _blob_df(spark, parts=None):
    # two tight 2-d blobs around (0,0) and (10,10); ids interleave blobs
    # so the k=2 lowest-id init picks one seed from each
    rows = []
    for i in range(20):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + (i % 5) * 0.01, base - (i % 3) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df.repartition(parts) if parts else df


def test_kmeans_separates_blobs_and_is_deterministic(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        kmeans_fixed_point,
    )

    got = {
        r["vec_id"]: (r["cluster"], r["dist2q"])
        for r in kmeans_fixed_point(
            _blob_df(spark), "vec_id", "embedding", dim=2, k=2, iters=3
        ).collect()
    }
    assert len(got) == 20
    # init: vec 0 (blob A) -> cid 0, vec 1 (blob B) -> cid 1; blobs are
    # 10 apart vs intra-blob spread 0.05, so membership is by parity
    for i in range(20):
        assert got[i][0] == i % 2, (i, got[i])
        assert got[i][1] < (10_000 // 10) ** 2  # well inside own blob

    # partition-independence: BIGINT centroid sums are associative
    got7 = {
        r["vec_id"]: (r["cluster"], r["dist2q"])
        for r in kmeans_fixed_point(
            _blob_df(spark, parts=7), "vec_id", "embedding", dim=2, k=2, iters=3
        ).collect()
    }
    assert got7 == got


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        kmeans_fixed_point,
    )

    # k=3 over data with only two real blobs: one centroid starves;
    # the run must still return a total assignment over k<=3 ids
    out = kmeans_fixed_point(
        _blob_df(spark), "vec_id", "embedding", dim=2, k=3, iters=3
    ).collect()
    assert len(out) == 20
    assert {r["cluster"] for r in out} <= {0, 1, 2}


def test_kmeans_validates_inputs(spark):
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.clustering import (
        kmeans_fixed_point,
    )

    with _pytest.raises(ValueError):
        kmeans_fixed_point(_blob_df(spark), "vec_id", "embedding", dim=2, k=0)
    with _pytest.raises(ValueError):
        kmeans_fixed_point(
            _blob_df(spark).limit(3), "vec_id", "embedding", dim=2, k=5
        )


def test_semdedup_drops_lower_id_near_dups_only(spark):
    from kamu_engine_datafusion_spark.operators.clustering import semdedup

    # unit-circle blob pairs: ids (2i, 2i+1) are identical vectors ->
    # cosine 1; distinct blobs are >=40 degrees apart (cos <= 0.77 <
    # tau 0.95) so cross-blob pairs never trip the threshold
    import math

    rows = []
    for i in range(8):
        base = [math.cos(i * 0.7), math.sin(i * 0.7)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, list(base)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["n_dups"], r["is_kept"])
        for r in semdedup(
            df, "vec_id", "embedding", dim=2, k=2, iters=2
        ).collect()
    }
    assert len(got) == 16
    for i in range(8):
        assert got[2 * i][1] == 1  # lower id of each identical pair kept
        assert got[2 * i + 1] == (1, 0)  # higher id dropped, 1 partner


def test_semdedup_cluster_guard_raises(spark):
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.clustering import semdedup

    df = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="max_cluster_rows"):
        semdedup(
            df, "vec_id", "embedding", dim=2, k=2, iters=1, max_cluster_rows=5
        )


def test_cluster_quality_purity_and_tie_break(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        cluster_quality,
        kmeans_fixed_point,
    )

    df = _blob_df(spark)
    assign = kmeans_fixed_point(df, "vec_id", "embedding", dim=2, k=2, iters=3)
    # ground truth: blob parity, except vec 0 mislabeled -> cluster 0 is
    # 9/10 pure; labels 7 (9 rows) vs 9 (1 row) exercise majority pick
    labels = spark.createDataFrame(
        [(i, 9 if i == 0 else 7 + (i % 2)) for i in range(20)],
        "vec_id long, label long",
    )
    got = {
        r["cluster"]: r
        for r in cluster_quality(assign, labels, "vec_id", "label").collect()
    }
    assert set(got) == {0, 1}
    c0, c1 = got[0], got[1]
    assert (c0["n"], c0["majority_label"], c0["n_majority"]) == (10, 7, 9)
    assert c0["purity"] == 0.9
    assert (c1["n"], c1["majority_label"], c1["n_majority"]) == (10, 8, 10)
    assert c1["purity"] == 1.0
    # inertia_q is the sum of member dist2q
    per_cluster = {}
    for r in assign.collect():
        per_cluster[r["cluster"]] = per_cluster.get(r["cluster"], 0) + r["dist2q"]
    assert c0["inertia_q"] == per_cluster[0]
    assert c1["inertia_q"] == per_cluster[1]


def test_cluster_quality_majority_tie_breaks_to_lowest_label(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        cluster_quality,
    )
    from pyspark.sql import functions as F  # noqa: N812

    assign = spark.createDataFrame(
        [(i, 0, 4) for i in range(6)], "vec_id long, cluster int, dist2q long"
    ).select("vec_id", "cluster", F.col("dist2q"))
    # labels 5 and 3 both have 3 members -> majority must be 3 (lowest)
    labels = spark.createDataFrame(
        [(i, 5 if i < 3 else 3) for i in range(6)], "vec_id long, label long"
    )
    row = cluster_quality(assign, labels, "vec_id", "label").collect()[0]
    assert (row["majority_label"], row["n_majority"], row["n"]) == (3, 3, 6)
    assert row["purity"] == 0.5
    assert row["inertia_q"] == 24


# ---------------------------------------------------------------------------
# incremental connected components
# ---------------------------------------------------------------------------


def _cc_dict(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_cc_increment_matches_full_recompute_across_ticks(spark):
    """Folding edge ticks through cc_increment must equal a from-scratch
    closure over all edges so far — including tick 3, which MERGES two
    previously-separate components through a brand-new node."""
    from kamu_engine_datafusion_spark.operators.clustering import (
        cc_increment,
    )

    ticks = [
        # tick 1: two chains -> components rooted at 1 and 10
        [(1, 2), (2, 3), (10, 11)],
        # tick 2: grow each component + a fresh pair (20, 21)
        [(3, 4), (11, 12), (20, 21)],
        # tick 3: a NEW node 99 bridges components 1 and 10; plus an
        # internal edge (1, 4) that must be a no-op
        [(4, 99), (99, 10), (1, 4)],
    ]
    state = None
    seen = []
    for t in ticks:
        seen += t
        state = cc_increment(
            state, spark.createDataFrame(t, "id_a long, id_b long")
        ).localCheckpoint(eager=True)
        want = connected_components(
            spark.createDataFrame(seen, "id_a long, id_b long")
        )
        assert _cc_dict(state) == _cc_dict(want)
    # the merge really happened: 1..4, 10..12, 99 all share root 1
    final = _cc_dict(state)
    assert {final[n] for n in (1, 2, 3, 4, 10, 11, 12, 99)} == {1}
    assert final[20] == final[21] == 20


def test_cc_increment_random_graphs_match(spark):
    import random

    from kamu_engine_datafusion_spark.operators.clustering import (
        cc_increment,
    )

    rng = random.Random(11)
    es = [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
    es = [(a, b) for a, b in es if a != b]
    state = None
    for i in range(0, len(es), 10):  # 5 ticks
        state = cc_increment(
            state,
            spark.createDataFrame(es[i : i + 10], "id_a long, id_b long"),
        ).localCheckpoint(eager=True)
    want = connected_components(
        spark.createDataFrame(es, "id_a long, id_b long")
    )
    assert _cc_dict(state) == _cc_dict(want)


def test_group_centroid_shift_hand_computed(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        group_centroid_shift,
    )

    # group A: vectors (0,0) and (2,0) -> centroid (1,0), radius² = 1
    # group B: vectors (5,0) and (5,2) -> centroid (5,1), radius² = 1
    # shift² = (1-5)² + (0-1)² = 17; normalized by scale²·dim
    rows = [
        ("A", 1, [0.0, 0.0]), ("A", 2, [2.0, 0.0]),
        ("B", 3, [5.0, 0.0]), ("B", 4, [5.0, 2.0]),
    ]
    df = spark.createDataFrame(
        rows, "grp string, vec_id long, embedding array<double>"
    )
    r = group_centroid_shift(
        df, "grp", "vec_id", "embedding", dim=2, scale=1
    ).first()
    assert (r["grp_a"], r["grp_b"], r["n_a"], r["n_b"]) == ("A", "B", 2, 2)
    assert r["shift2_norm"] == 8.5  # 17 / (1·2)
    assert r["radius2_a"] == 0.5 and r["radius2_b"] == 0.5  # 1/(1·2)


def test_group_centroid_shift_numeric_keys_order_natively(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        group_centroid_shift,
    )

    # numeric group ids spanning the 1-digit/2-digit boundary: the
    # grp_a < grp_b contract must hold NATIVELY (a string compare
    # would emit pair (2, 10) as grp_a=10, grp_b=2)
    rows = [
        (2, 1, [0.0]), (2, 2, [2.0]),
        (10, 3, [5.0]), (10, 4, [7.0]),
    ]
    df = spark.createDataFrame(
        rows, "grp long, vec_id long, embedding array<double>"
    )
    out = group_centroid_shift(
        df, "grp", "vec_id", "embedding", dim=1, scale=1
    ).collect()
    assert len(out) == 1
    assert (out[0]["grp_a"], out[0]["grp_b"]) == (2, 10)


def test_group_centroid_shift_empty_input(spark):
    from kamu_engine_datafusion_spark.operators.clustering import (
        group_centroid_shift,
    )

    df = spark.createDataFrame(
        [], "grp string, vec_id long, embedding array<double>"
    )
    out = group_centroid_shift(df, "grp", "vec_id", "embedding", dim=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "grp_a", "grp_b", "n_a", "n_b",
        "shift2_norm", "radius2_a", "radius2_b",
    ]


def test_group_centroid_shift_same_distribution_reads_zero(spark):
    import random

    from kamu_engine_datafusion_spark.operators.clustering import (
        group_centroid_shift,
    )

    rng = random.Random(9)
    rows = []
    for i in range(400):
        v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append(("A" if i % 2 else "B", i, v))
    df = spark.createDataFrame(
        rows, "grp string, vec_id long, embedding array<double>"
    )
    r = group_centroid_shift(
        df, "grp", "vec_id", "embedding", dim=8
    ).first()
    # same population: centroid shift ≪ within-group spread
    assert r["shift2_norm"] < 0.1 * min(r["radius2_a"], r["radius2_b"])


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=hst.lists(
        hst.tuples(
            hst.integers(min_value=0, max_value=25),
            hst.integers(min_value=0, max_value=25),
        ),
        min_size=1,
        max_size=40,
    ),
    n_ticks=hst.integers(min_value=1, max_value=4),
)
def test_cc_increment_any_graph_any_tick_split(spark, edges, n_ticks):
    """For ANY edge multiset split into ANY number of ticks, the
    incremental fold must equal the batch closure of all edges — the
    property every persisted-dedup-state consumer depends on."""
    from kamu_engine_datafusion_spark.operators.clustering import (
        cc_increment,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    per = max(1, len(edges) // n_ticks)
    state = None
    for i in range(0, len(edges), per):
        state = cc_increment(
            state,
            spark.createDataFrame(
                edges[i : i + per], "id_a long, id_b long"
            ),
        ).localCheckpoint(eager=True)
    want = connected_components(
        spark.createDataFrame(edges, "id_a long, id_b long")
    )
    assert _cc_dict(state) == _cc_dict(want)


def test_top_principal_component_matches_numpy(spark):
    """The fixed-point L∞ power iteration must find the same top
    direction as numpy's exact eigendecomposition (cosine > 0.99 after
    sign alignment) on a corpus with a planted dominant direction, and
    the Rayleigh variance share must match the eigenvalue ratio."""
    import numpy as np

    from kamu_engine_datafusion_spark.operators.clustering import (
        top_principal_component,
    )

    rng = np.random.default_rng(11)
    d = 16
    direction = rng.normal(size=d)
    direction /= np.linalg.norm(direction)
    # 400 points: strong variance along `direction`, weak isotropic noise
    coords = rng.normal(scale=3.0, size=400)
    pts = np.outer(coords, direction) + rng.normal(scale=0.3, size=(400, d))
    rows = [(i, [float(x) for x in pts[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = top_principal_component(
        df, "vec_id", "embedding", dim=d, iters=10
    )
    got = {r["j"]: r["v"] for r in out.collect()}
    v = np.array([got[j] for j in range(d)], dtype=float)
    centered = pts - pts.mean(axis=0)
    evals, evecs = np.linalg.eigh(centered.T @ centered)
    top = evecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, cos
    share = out.first()["var_share"]
    want_share = evals[-1] / evals.sum()
    assert abs(share - want_share) < 0.02, (share, want_share)
    # sign pin: first nonzero component positive
    first_nonzero = next(got[j] for j in range(d) if got[j] != 0)
    assert first_nonzero > 0


def test_top_principal_component_deterministic_and_guarded(spark):
    import numpy as np

    from kamu_engine_datafusion_spark.operators.clustering import (
        top_principal_component,
    )

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        tuple(r)
        for r in top_principal_component(
            df, "vec_id", "embedding", dim=8
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in top_principal_component(
            df.repartition(7), "vec_id", "embedding", dim=8
        ).collect()
    )
    assert a == b  # partition-independent: exact integer trajectory
    # the overflow bound raises loudly with guidance, not mid-sum ANSI
    import pytest as _pytest

    with _pytest.raises(ValueError, match="weighted_sample"):
        top_principal_component(
            df, "vec_id", "embedding", dim=8, scale=10_000_000,
            v_scale=10_000_000,
        )
    # empty input: empty frame, stable schema
    empty = top_principal_component(
        df.filter(F.col("vec_id") < 0), "vec_id", "embedding", dim=8
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "j", "v", "n_rows", "var_share",
    ]


def test_top_principal_component_rayleigh_overflow_guard(spark):
    """The variance-share sum Σ(x'·v)² has its own (exact, a-posteriori)
    overflow check: data crafted so the w-sum precheck passes but the
    Rayleigh numerator would overflow BIGINT must raise with guidance,
    not a raw ANSI fault."""
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.clustering import (
        top_principal_component,
    )

    # one dominant axis: quantized |x'| ≈ 7.07e6 (scale=10000), so the
    # w-sum bound 10·8·(7.07e6)²·1000 ≈ 4.0e18 < 2^62 passes, while the
    # converged projection |x'·v| ≈ 7.07e9 gives n·m_s² ≈ 5e20 ≥ 2^62
    rows = [
        (i, [707.1 if i % 2 == 0 else -707.1] + [0.0] * 7)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="variance-share"):
        top_principal_component(df, "vec_id", "embedding", dim=8)


def test_semdedup_increment_one_shot_equals_batch(spark):
    """The incremental SemDeDup core with the whole corpus as ONE
    increment and no index equals batch semdedup's greedy
    keep-first-by-id rule exactly (same frozen centroids)."""
    import math

    from kamu_engine_datafusion_spark.operators.clustering import (
        lloyd_centroids,
        quantize_vectors,
        semdedup,
        semdedup_increment_against_index,
        semdedup_state_rows,
    )

    rows = []
    for i in range(8):
        base = [math.cos(i * 0.7), math.sin(i * 0.7)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, list(base)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = lloyd_centroids(
        quantize_vectors(df, "vec_id", "embedding", 10_000),
        "vec_id", dim=2, k=2, iters=2,
    )
    inc = semdedup_state_rows(df, cents, "vec_id", "embedding")
    surv = semdedup_increment_against_index(inc, None)
    got = sorted(r["vec_id"] for r in surv.collect())
    want = sorted(
        r["vec_id"]
        for r in semdedup(
            df, "vec_id", "embedding", dim=2, k=2, iters=2
        ).collect()
        if r["is_kept"] == 1
    )
    assert got == want == [2 * i for i in range(8)]
    # clusters in the state rows match the batch assignment
    batch_clusters = {
        r["vec_id"]: r["cluster"]
        for r in semdedup(
            df, "vec_id", "embedding", dim=2, k=2, iters=2
        ).collect()
    }
    for r in surv.collect():
        assert batch_clusters[r["vec_id"]] == r["cluster"]


def test_semdedup_kill_backend_twins(spark):
    """The per-cluster grouped kill kernel must reproduce the
    cluster-equi-join + per-pair-dot formulation's survivor set
    EXACTLY — including NULL clusters (never equi-join), NULL q2 /
    NULL-element / NULL-n2 rows (neither kill nor die via pairs),
    ragged vector lengths (cross-length dots are NULL), empty state,
    and threshold-boundary ties (the >= in the near test)."""
    import random

    from kamu_engine_datafusion_spark.operators import clustering as C
    from tests import jvm_twins as J

    rng = random.Random(11)
    dim = 8

    def qvec(scale=40):
        return [rng.randint(-scale, scale) for _ in range(dim)]

    def n2(v):
        return sum(x * x for x in v if x is not None)

    def mk(rows):
        return spark.createDataFrame(
            rows, "vec_id long, cluster long, q2 array<bigint>, n2 long"
        )

    inc_rows = []
    for i in range(120):
        v = qvec()
        inc_rows.append((i, rng.randint(0, 3), v, n2(v)))
    # exact duplicates within a cluster (guaranteed kills, and
    # boundary equality dot² · den == num · n2 · n2 when a == b)
    dup = qvec()
    inc_rows.append((500, 1, dup, n2(dup)))
    inc_rows.append((501, 1, list(dup), n2(dup)))
    # NULL edges
    inc_rows.append((510, None, dup, n2(dup)))  # NULL cluster
    inc_rows.append((511, 1, None, None))  # NULL vector
    withnull = qvec()
    withnull[2] = None
    inc_rows.append((512, 1, withnull, n2(withnull)))  # NULL element
    inc_rows.append((513, 1, dup[:4], n2(dup[:4])))  # ragged length
    # NULL ids: never lower than another id; a state kill matches none
    inc_rows.append((None, 1, list(dup), n2(dup)))
    inc_rows.append((None, 2, list(dup), n2(dup)))
    inc = mk(inc_rows)

    st_rows = []
    for i in range(40):
        v = qvec()
        st_rows.append((1000 + i, rng.randint(0, 3), v, n2(v)))
    st_rows.append((1100, 2, dup, n2(dup)))  # kills any dup in c2
    state = mk(st_rows)

    def run(fn, st):
        return sorted(
            (r["vec_id"] for r in fn(inc, st, tau2_num=8_000).collect()),
            key=lambda v: (v is None, v),
        )

    for st in (state, None):
        a = run(C.semdedup_increment_against_index, st)
        j = run(J.semdedup_increment_join, st)
        assert a == j, (st is None, set(a) ^ set(j))
    # sanity: the exact-dup pair resolved lower-id-wins, NULL-edge
    # rows survived (they can neither kill nor die)
    surv = set(run(C.semdedup_increment_against_index, None))
    assert 500 in surv and 501 not in surv
    assert {510, 511, 512, 513} <= surv


def test_semdedup_batch_kernel_equals_pair_join_twin(spark):
    """Batch semdedup's grouped kill kernel must reproduce the cluster
    self-join + per-pair-dot formulation's (cluster, n_dups, is_kept)
    EXACTLY — string ids, NULL vector / NULL element / over-long /
    short rows (NULL cluster: they never join; a NULL and a short
    vector hold the two lowest ids, so they must not seed a centroid),
    an exact duplicate pair, and a pair landing exactly on the
    threshold (the >= in the near test). Fewer than k valid rows
    raise."""
    import random

    import pytest

    from kamu_engine_datafusion_spark.operators import clustering as C
    from tests import jvm_twins as J

    rng = random.Random(5)
    rows = [
        (f"v{i:03d}", [round(rng.uniform(-0.6, 0.6), 3) for _ in range(4)])
        for i in range(40)
    ]
    rows += [
        # cos² = 1/2 exactly at sim_scale 1000: 500² · 2 == 1 · 500² · 2·500²
        ("t1", [0.5, 0.0, 0.0, 0.0]),
        ("t2", [0.5, 0.5, 0.0, 0.0]),
        ("d1", [0.2, -0.3, 0.4, 0.1]),
        ("d0", [0.2, -0.3, 0.4, 0.1]),
        ("xnull", None),
        ("xelem", [0.2, None, 0.4, 0.1]),
        ("xrag", [0.2, -0.3, 0.4, 0.1, 0.0, 0.3]),
        ("xrag2", [0.2, -0.3, 0.4, 0.1, 0.0, 0.3]),
        ("a0null", None),
        ("a1short", [0.2, -0.3]),
    ]
    df = spark.createDataFrame(rows, "vid string, emb array<double>")

    def run(fn):
        return {
            r["vid"]: (r["cluster"], r["n_dups"], r["is_kept"])
            for r in fn(
                df, "vid", "emb", dim=4, k=2, iters=2, tau2_num=1, tau2_den=2
            ).collect()
        }

    got, want = run(C.semdedup), run(J.semdedup_join)
    assert got == want, sorted(
        v for v in got.keys() | want.keys() if got.get(v) != want.get(v)
    )
    assert len(got) == len(rows)
    # the edges resolved as the join does, and the counts are not trivial
    assert got["d0"][1:] == (0, 1) and got["d1"][1:] == (1, 0)
    assert got["t1"][0] == got["t2"][0] and got["t2"][1:] == (1, 0)
    for v in ("xnull", "xelem", "xrag", "xrag2", "a0null", "a1short"):
        assert got[v] == (None, 0, 1)
    assert max(n for _, n, _ in got.values()) > 2
    invalid = df.filter(~F.col("vid").rlike("^[vtd]"))
    with pytest.raises(ValueError, match="valid rows"):
        C.semdedup(invalid, "vid", "emb", dim=4, k=2, iters=2)


def test_maintained_semdedup_index_folds_and_replays(spark, tmp_path):
    """Tick-by-tick maintained fold == the batch incremental path run
    tick by tick: near-dups die vs prior-tick SURVIVORS and within a
    tick lower-id-wins; survivors-only state; a replayed (no-new-data)
    run changes nothing."""
    import math
    import os

    from kamu_engine_datafusion_spark.operators.clustering import (
        lloyd_centroids,
        quantize_vectors,
        semdedup_increment_against_index,
        semdedup_state_rows,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_semdedup_index,
        read_maintained_state,
    )

    def vec(i, eps=0.0):
        return [math.cos(i * 0.7) + eps, math.sin(i * 0.7)]

    ticks = [
        # tick 0: 4 distinct blobs + an exact dup of blob 0 (id 100)
        [(0, vec(0)), (1, vec(1)), (2, vec(2)), (3, vec(3)),
         (100, vec(0))],
        # tick 1: dup of a tick-0 SURVIVOR (dies), fresh blob (lives),
        # within-tick pair (lower id lives)
        [(200, vec(1)), (201, vec(4)), (202, vec(5)), (203, vec(5))],
        # tick 2: dup of the tick-1 survivor 202 (dies) + fresh (lives)
        [(300, vec(5)), (301, vec(6))],
    ]
    schema = "vec_id long, embedding array<double>"
    all_df = spark.createDataFrame(
        [r for t in ticks for r in t], schema
    )
    cents = lloyd_centroids(
        quantize_vectors(all_df, "vec_id", "embedding", 10_000),
        "vec_id", dim=2, k=3, iters=2,
    )

    ledger = os.path.join(str(tmp_path), "sdledger")
    state = os.path.join(str(tmp_path), "sdstate")
    ck = os.path.join(str(tmp_path), "sdck")
    os.makedirs(ledger)

    def run():
        maintained_semdedup_index(
            ledger, state, ck, cents,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    batch_state = None
    for t in ticks:
        spark.createDataFrame(t, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()
        # batch replay of the same tick with the same module-level core
        inc = semdedup_state_rows(
            spark.createDataFrame(t, schema), cents, "vec_id", "embedding"
        )
        new = semdedup_increment_against_index(inc, batch_state)
        batch_state = new if batch_state is None else (
            batch_state.unionByName(new)
        )
        got = sorted(
            (r["vec_id"], r["cluster"], tuple(r["q2"]), r["n2"])
            for r in read_maintained_state(spark, state).collect()
        )
        want = sorted(
            (r["vec_id"], r["cluster"], tuple(r["q2"]), r["n2"])
            for r in batch_state.collect()
        )
        assert got == want
    ids = {r[0] for r in got}
    assert ids == {0, 1, 2, 3, 201, 202, 301}
    # replay with no new data: state unchanged
    run()
    again = sorted(
        (r["vec_id"], r["cluster"], tuple(r["q2"]), r["n2"])
        for r in read_maintained_state(spark, state).collect()
    )
    assert again == got


def test_centroid_shift_from_stats_equals_batch_and_maintained(
    spark, tmp_path
):
    """The shift matrix read from the additive stats frame (and from
    3-tick maintained_centroid_stats state) == batch
    group_centroid_shift over the whole ledger row-for-row — the
    embedding-space drift monitor never re-scans the corpus."""
    import os

    from kamu_engine_datafusion_spark.operators.clustering import (
        centroid_shift_from_stats,
        centroid_stats,
        group_centroid_shift,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_centroid_stats,
        read_maintained_state,
    )

    rng = __import__("random").Random(31)
    dim = 6

    def vec(center):
        return [center + rng.uniform(-0.5, 0.5) for _ in range(dim)]

    all_rows = (
        [("web", i, vec(0.0)) for i in range(120)]
        + [("books", 1000 + i, vec(0.3)) for i in range(80)]
        + [("crawl", 2000 + i, vec(2.0)) for i in range(60)]
    )
    rng.shuffle(all_rows)
    schema = "grp string, vec_id long, embedding array<double>"
    full = spark.createDataFrame(all_rows, schema)

    want = sorted(
        tuple(r)
        for r in group_centroid_shift(
            full, "grp", "vec_id", "embedding", dim=dim
        ).collect()
    )
    got_batch = sorted(
        tuple(r)
        for r in centroid_shift_from_stats(
            centroid_stats(full, "grp", "vec_id", "embedding", dim=dim),
            dim=dim,
        ).collect()
    )
    assert got_batch == want and len(want) == 3

    ledger_dir = os.path.join(str(tmp_path), "csledger")
    state_dir = os.path.join(str(tmp_path), "csstate")
    ck = os.path.join(str(tmp_path), "csck")
    os.makedirs(ledger_dir)

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_centroid_stats(
            ledger_dir, state_dir, ck, "grp", "vec_id", "embedding",
            dim=dim, schema=spark.read.parquet(ledger_dir).schema,
            spark=spark,
        ).awaitTermination()

    tick(all_rows[:90])
    tick(all_rows[90:180])
    tick(all_rows[180:])
    state = read_maintained_state(spark, state_dir).select(
        "grp", "n", "sv", "ss"
    )
    # fold == batch stats value-for-value
    canon = lambda rs: sorted(  # noqa: E731
        (r["grp"], r["n"], tuple(r["sv"]), r["ss"]) for r in rs
    )
    assert canon(state.collect()) == canon(
        centroid_stats(
            full, "grp", "vec_id", "embedding", dim=dim
        ).collect()
    )
    got_live = sorted(
        tuple(r)
        for r in centroid_shift_from_stats(state, dim=dim).collect()
    )
    assert got_live == want
    # the planted far-away source reads as drift: crawl vs web shift
    # far above both radii
    by_pair = {(r[0], r[1]): r for r in got_live}
    cw = by_pair[("crawl", "web")]
    assert cw[4] > 10 * max(cw[5], cw[6])


def test_read_maintained_ann_topk_from_semdedup_state(spark, tmp_path):
    """ANN search served from the maintained SemDeDup store: with
    nprobe == nlist the result equals a python brute-force cosine
    top-k over the ENTIRE stored payload (full recall); with a small
    nprobe it equals the same replay restricted to the integer-rule
    probe lists — and every returned row belongs to a probed cluster
    (the pruning actually prunes). One store, two reads."""
    import math
    import os

    from kamu_engine_datafusion_spark.operators.clustering import (
        lloyd_centroids,
        quantize_vectors,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_semdedup_index,
        read_maintained_ann_topk,
        read_maintained_state,
    )

    rng = __import__("random").Random(41)
    dim = 8

    def vec(center):
        return [
            math.cos(center + j) + rng.uniform(-0.3, 0.3)
            for j in range(dim)
        ]

    rows = [(i, vec(i % 5)) for i in range(300)]
    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame(rows, schema)
    cents = lloyd_centroids(
        quantize_vectors(df, "vec_id", "embedding", 10_000),
        "vec_id", dim=dim, k=5, iters=3,
    )
    ledger = os.path.join(str(tmp_path), "annledger")
    state = os.path.join(str(tmp_path), "annstate")
    ck = os.path.join(str(tmp_path), "annck")
    os.makedirs(ledger)
    df.coalesce(1).write.mode("append").parquet(ledger)
    maintained_semdedup_index(
        ledger, state, ck, cents,
        schema=spark.read.parquet(ledger).schema, spark=spark,
    ).awaitTermination()

    stored = [
        (r["vec_id"], r["cluster"], list(r["q2"]), r["n2"])
        for r in read_maintained_state(spark, state).collect()
    ]
    assert stored  # survivors exist

    query = vec(2)
    qq = [int(math.floor(x * 1_000 + 0.5)) for x in query]
    qn2 = sum(v * v for v in qq)

    def replay(clusters=None):
        out = []
        for vid, cl, q2, n2 in stored:
            if clusters is not None and cl not in clusters:
                continue
            dot = sum(a * b for a, b in zip(q2, qq))
            c = (
                math.floor(
                    dot / math.sqrt(float(n2) * qn2) * 1e6 + 0.5
                )
                / 1e6
                if n2 > 0 and qn2 > 0
                else 0.0
            )
            out.append((vid, cl, c))
        out.sort(key=lambda t: (-t[2], t[0]))
        return out[:7]

    # full recall: nprobe == nlist
    got_full = [
        tuple(r)
        for r in read_maintained_ann_topk(
            spark, state, cents, query, k=7, nprobe=5
        ).collect()
    ]
    assert got_full == replay()

    # nprobe=2: the integer probe rule (scale-quantized query,
    # dist*k + cid encoding — lower cid wins ties)
    qs = [int(math.floor(x * 10_000 + 0.5)) for x in query]
    enc = sorted(
        (
            sum((qs[j] - c[j]) ** 2 for j in range(dim)) * len(cents)
            + cid,
            cid,
        )
        for cid, c in enumerate(cents)
    )
    probed = {cid for _, cid in enc[:2]}
    got2 = [
        tuple(r)
        for r in read_maintained_ann_topk(
            spark, state, cents, query, k=7, nprobe=2
        ).collect()
    ]
    assert got2 == replay(probed)
    assert got2 and all(cl in probed for _, cl, _c in got2)


def test_int_vec_arrow_backend_twins(spark):
    """The exact-integer vector kernels (int dot, const dot, k-means
    argmin encoding) are bit-exact with the interpreted
    zip_with/aggregate folds — incl. NULL vectors, length mismatches,
    negative components, and tie encodings."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.operators import clustering as C
    from tests import jvm_twins as J

    rows = [
        (1, [1, 2, 3, 4], [5, -6, 7, 8]),
        (2, [0, 0, 0, 0], [1, 1, 1, 1]),
        (3, [-9999, 10_000, 123, -1], [10_000, 10_000, -10_000, 1]),
        (4, None, [1, 2, 3, 4]),
        (5, [1, 2, 3], [1, 2, 3, 4]),  # length mismatch -> NULL
        (6, [7, 7, 7, 7], None),
    ]
    df = spark.createDataFrame(
        rows, "id long, u array<long>, v array<long>"
    )
    cents = [[0, 0, 0, 0], [1, 2, 3, 4], [1, 2, 3, 5], [-5, 0, 5, 0]]
    const = [3, -1, 4, -1]

    def run(dot, dot_const, enc):
        return sorted(
            map(
                tuple,
                df.select(
                    "id",
                    dot(F.col("u"), F.col("v")).alias("d"),
                    dot_const(F.col("u"), const).alias("dc"),
                    enc(cents, len(cents), vec=F.col("u")).alias("enc"),
                ).collect(),
            )
        )

    kernels = run(C.int_dot_expr, C.int_dot_const_expr, C.kmeans_enc_expr)
    folds = run(J.int_dot_fold, J.int_dot_const_fold, J.kmeans_enc_fold)
    assert kernels == folds
    # the NULL / length-mismatch rows really are NULL, not garbage
    by_id = {r[0]: r for r in kernels}
    assert by_id[4][1:] == (None, None, None) and by_id[5][1] is None


def test_top_principal_component_gram_equals_loop_twin(spark):
    """The one-pass Gram path must reproduce the per-iteration power
    loop bit for bit — w = X'ᵀ(X'v) equals Gᵀv by exact integer
    distributivity, including NULL-vector rows (counted in n_rows,
    skipped by the sums) and NULL-element rows (dropped from the Gram,
    not cast to garbage int64)."""
    import numpy as np

    from kamu_engine_datafusion_spark.operators import clustering as C
    from tests import jvm_twins as J

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(60)
    ]
    rows.append((60, None))
    bad = [float(x) for x in rng.normal(size=8)]
    bad[3] = None
    rows.append((61, bad))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        tuple(r)
        for r in C.top_principal_component(
            df, "vec_id", "embedding", dim=8
        ).collect()
    )
    b = J.top_principal_component_reference([r[1] for r in rows], dim=8)
    assert a == b
