"""Deterministic sampling: stability across partitioning, stratum
fractions, and disjoint splits."""

from __future__ import annotations

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.sampling import (
    deterministic_sample,
)


def test_sample_stable_across_partitioning(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    a = set(r["k"] for r in deterministic_sample(df, "k", 0.2).collect())
    b = set(
        r["k"]
        for r in deterministic_sample(df.repartition(17), "k", 0.2).collect()
    )
    assert a == b  # identical rows regardless of plan
    assert 0.15 < len(a) / 10_000 < 0.25


def test_salt_decorrelates(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    s0 = set(r["k"] for r in deterministic_sample(df, "k", 0.2, salt=0).collect())
    s1 = set(r["k"] for r in deterministic_sample(df, "k", 0.2, salt=1).collect())
    overlap = len(s0 & s1) / max(len(s0), 1)
    assert 0.1 < overlap < 0.35  # ~independent 20% samples overlap ~20%


def test_stratified_exact_quota(spark):
    from kamu_engine_datafusion_spark.operators.sampling import (
        stratified_sample_exact,
    )

    df = spark.range(0, 1_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, "rare").otherwise("common").alias("lang"),
    )
    out = stratified_sample_exact(df, "k", "lang", 0.3)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"rare": 30, "common": 270}  # exactly ceil(0.3*n)
    # stable across partitioning
    again = stratified_sample_exact(df.repartition(13), "k", "lang", 0.3)
    assert set(r["k"] for r in out.collect()) == set(
        r["k"] for r in again.collect()
    )


def test_pack_sequences_offsets(spark):
    from kamu_engine_datafusion_spark.operators.sampling import pack_sequences

    rows = [(i, "g", c) for i, c in enumerate([50, 60, 40, 100, 10])]
    df = spark.createDataFrame(rows, ["k", "grp", "cost"])
    out = {r["k"]: r["chunk"] for r in
           pack_sequences(df, "k", "cost", budget=100, part_col="grp").collect()}
    # offsets: 0, 50, 110, 150, 250 -> chunks 0, 0, 1, 1, 2
    assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}


def test_pack_sequences_partition_independent(spark):
    from kamu_engine_datafusion_spark.operators.sampling import pack_sequences

    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("grp"),
        (F.col("id") % 31 + 1).alias("cost"),
    )
    a = {(r["k"], r["chunk"]) for r in
         pack_sequences(df, "k", "cost", 64, "grp").collect()}
    b = {(r["k"], r["chunk"]) for r in
         pack_sequences(df.repartition(11), "k", "cost", 64, "grp").collect()}
    assert a == b


def test_split_by_group_no_straddle(spark):
    from kamu_engine_datafusion_spark.operators.sampling import split_by_group

    df = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 40).cast("string").alias("dom")
    )
    train, hold = split_by_group(df, "dom", holdout_fraction=0.3)
    tr = set(r["dom"] for r in train.select("dom").distinct().collect())
    ho = set(r["dom"] for r in hold.select("dom").distinct().collect())
    assert tr.isdisjoint(ho)  # no domain straddles the split
    assert len(tr) + len(ho) == 40
    assert train.count() + hold.count() == 5_000


def test_mix_to_budget_hits_targets(spark):
    from kamu_engine_datafusion_spark.operators.sampling import mix_to_budget

    # 3 strata, 1000 rows each, cost 10/row -> 10_000 tokens per stratum
    df = spark.range(0, 3_000).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("s"),
        F.lit(10).alias("cost"),
    )
    out = mix_to_budget(
        df, "k", "s", "cost", {"a": 0.5, "b": 0.5}, budget=10_000
    )
    got = {
        r["s"]: r["tok"]
        for r in out.groupBy("s").agg(F.sum("cost").alias("tok")).collect()
    }
    assert "c" not in got  # unlisted stratum dropped
    # each listed stratum targets 5_000 of its 10_000 tokens (+-20%)
    assert 4_000 < got["a"] < 6_000 and 4_000 < got["b"] < 6_000


def test_mix_to_budget_caps_at_full_stratum(spark):
    from kamu_engine_datafusion_spark.operators.sampling import mix_to_budget

    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 90, "big").otherwise("small").alias("s"),
        F.lit(10).alias("cost"),
    )
    # small has 100 tokens; its 50% share of a 10_000 budget (5_000)
    # exceeds that -> kept whole, never duplicated
    out = mix_to_budget(df, "k", "s", "cost", {"big": 0.5, "small": 0.5}, 10_000)
    small = out.filter(F.col("s") == "small")
    assert small.count() == 10
    assert out.count() == out.select("k").distinct().count()


def test_weighted_sample_favors_heavy_rows(spark):
    from kamu_engine_datafusion_spark.operators.sampling import weighted_sample

    # 50 heavy rows (w=50) vs 450 light rows (w=1): a 100-row draw
    # should take nearly all heavy rows and a minority of light ones
    rows = [(i, 50 if i < 50 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = [r.doc_id for r in weighted_sample(df, "w", 100).collect()]
    assert len(got) == 100
    heavy = sum(1 for i in got if i < 50)
    assert heavy >= 40  # ~50 expected; keyed-hash draw, not adversarial


def test_weighted_sample_deterministic_and_salt_sensitive(spark):
    from kamu_engine_datafusion_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 + i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    a = sorted(r.doc_id for r in weighted_sample(df, "w", 50, salt=0).collect())
    b = sorted(r.doc_id for r in weighted_sample(df, "w", 50, salt=0).collect())
    c = sorted(r.doc_id for r in weighted_sample(df, "w", 50, salt=1).collect())
    assert a == b  # same salt = identical draw, any partitioning
    assert a != c  # different salt = decorrelated draw


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from kamu_engine_datafusion_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, None), (4, 2.0)], ["doc_id", "w"]
    )
    got = [r.doc_id for r in weighted_sample(df, "w", 10).collect()]
    assert got == [4]


def test_upsample_repeat_counts_and_epochs(spark):
    from kamu_engine_datafusion_spark.operators.sampling import (
        _BUCKETS,
        _bucket,
        upsample_repeat,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(1000)],
        "doc_id long, lang string",
    )
    up = upsample_repeat(
        df, "doc_id", {"en": 2.25, "de": 0.5}, stratum_col="lang"
    )
    rows = up.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    # epochs are dense 0..n-1 per doc
    for epochs in per_doc.values():
        assert sorted(epochs) == list(range(len(epochs)))
    # en docs appear 2 or 3 times; de docs 0 or 1 times
    en = [len(per_doc.get(i, [])) for i in range(1, 1000, 2)]
    de = [len(per_doc.get(i, [])) for i in range(0, 1000, 2)]
    assert set(en) <= {2, 3} and set(de) <= {0, 1}
    # fractional shares land near the targets (hash-deterministic)
    assert abs(sum(en) / len(en) - 2.25) < 0.1
    assert abs(sum(de) / len(de) - 0.5) < 0.1
    # exact membership reproducible: extra-copy iff bucket < frac cut
    cuts = df.select(
        "doc_id", "lang", _bucket(F.col("doc_id"), 0).alias("b")
    ).collect()
    for r in cuts:
        want = (
            (2 + (r["b"] < int(0.25 * _BUCKETS)))
            if r["lang"] == "en"
            else (0 + (r["b"] < int(0.5 * _BUCKETS)))
        )
        assert len(per_doc.get(r["doc_id"], [])) == want


def test_upsample_repeat_scalar_and_plan(spark):
    from kamu_engine_datafusion_spark.operators.sampling import (
        upsample_repeat,
    )

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    up = upsample_repeat(df, "doc_id", 3.0)
    assert up.count() == 300
    plan = up._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure in-row explode, zero shuffle


def test_length_buckets_boundaries_nulls_open_top(spark):
    from kamu_engine_datafusion_spark.operators.sampling import (
        length_buckets,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, 5), (1, 32), (2, 31), (3, 100), (4, None), (5, 512), (6, 9999)],
        "id long, cost int",
    )
    out = {
        r["id"]: (r["bucket"], r["bucket_lo"], r["bucket_hi"])
        for r in length_buckets(df, "cost", [32, 64, 128, 256, 512]).collect()
    }
    assert out[0] == (0, 0, 32)  # below first boundary
    assert out[2] == (0, 0, 32)  # 31 < 32
    assert out[1] == (1, 32, 64)  # boundary value is inclusive-low
    assert out[3] == (2, 64, 128)
    assert out[5] == (5, 512, None)  # open top bucket
    assert out[6] == (5, 512, None)
    assert out[4] == (None, None, None)  # null cost -> null bucket
    with _pytest.raises(ValueError):
        length_buckets(df, "cost", [64, 32])


def test_interleave_sources_stride_proportionality(spark):
    """Weight 3:1 must show up in EVERY prefix (±1 per source), not
    just in expectation over the whole corpus — the property stride
    scheduling exists for. Also: zero-weight sources are dropped and
    the order is a pure function of (keys, salt)."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        interleave_sources,
    )

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(90)],
        "k long, s string",
    )
    out = interleave_sources(df, "k", "s", {"a": 3.0, "b": 1.0, "c": 0.0})
    rows = sorted(out.collect(), key=lambda r: r["interleave_rank"])
    order = [r["s"] for r in rows]
    assert "c" not in order and len(order) == 60
    # ranks dense 0..n-1
    assert [r["interleave_rank"] for r in rows] == list(range(60))
    # proportionality in every prefix while both sources have mass
    # (source a has 30 rows and drains at prefix 40; past that the
    # tail is all b by construction — stride is a schedule, not a
    # replicator)
    for n in range(4, 41, 4):
        a = order[:n].count("a")
        assert abs(a - 0.75 * n) <= 1, (n, a)
    assert set(order[40:]) == {"b"}
    # determinism: identical on recompute
    again = [
        r["s"]
        for r in sorted(
            interleave_sources(
                df, "k", "s", {"a": 3.0, "b": 1.0, "c": 0.0}
            ).collect(),
            key=lambda r: r["interleave_rank"],
        )
    ]
    assert again == order


def test_interleave_distributed_equals_serial(spark):
    """The distributed (no-window) twin must be BIT-IDENTICAL to the
    serial window form — including under heavy source skew (one source
    carries 90% of the rows, the case the per-source window would
    funnel through one task) and with multiple input partitions."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        interleave_sources,
    )

    rows = [(i, "big" if i % 10 else "small") for i in range(400)]
    df = spark.createDataFrame(rows, "k long, s string").repartition(8)
    kw = dict(weights={"big": 9.0, "small": 1.0}, salt=3)
    serial = {
        r["k"]: r["interleave_rank"]
        for r in interleave_sources(df, "k", "s", mode="serial", **kw).collect()
    }
    dist = {
        r["k"]: r["interleave_rank"]
        for r in interleave_sources(
            df, "k", "s", mode="distributed", **kw
        ).collect()
    }
    assert dist == serial and len(dist) == 400


def test_group_ranks_distributed_matches_window(spark):
    """assign_group_ranks_distributed ≡ row_number()-1 per group, with
    skewed groups and several partitions."""
    from pyspark.sql import Window

    from kamu_engine_datafusion_spark.operators.sampling import (
        assign_group_ranks_distributed,
    )

    rows = [(i, "g%d" % (0 if i % 7 else i % 3), i * 37 % 101) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, o long").repartition(6)
    got = {
        (r["g"], r["id"]): r["rnk"]
        for r in assign_group_ranks_distributed(df, ["g"], ["o", "id"], "rnk").collect()
    }
    w = Window.partitionBy("g").orderBy("o", "id")
    want = {
        (r["g"], r["id"]): r["rnk"]
        for r in df.withColumn(
            "rnk", (F.row_number().over(w) - 1).cast("long")
        ).collect()
    }
    assert got == want


def test_weighted_sample_per_group_quota_and_determinism(spark):
    """Every group keeps at most n rows; a group smaller than n keeps
    everything; heavier rows win more often within each group; the draw
    is identical on recompute and across partitionings."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [(i, "g%d" % (i % 3), float(1 + (i % 7) * 100)) for i in range(90)]
    rows += [(900, "tiny", 5.0), (901, "tiny", 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    out = weighted_sample_per_group(df, "w", "g", n=10).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["doc_id"])
    assert all(len(v) <= 10 for v in by_g.values())
    assert sorted(by_g["tiny"]) == [900, 901]  # small group kept whole
    again = {
        (r["g"], r["doc_id"])
        for r in weighted_sample_per_group(
            df.repartition(7), "w", "g", n=10
        ).collect()
    }
    assert again == {(r["g"], r["doc_id"]) for r in out}
    # heavy rows (w=601) should beat light ones (w=1) overall
    heavy = sum(1 for r in out if r["w"] > 500)
    light = sum(1 for r in out if r["w"] < 2)
    assert heavy > light


def test_interleave_distributed_empty_and_all_zero_weights(spark):
    """Degenerate inputs must not crash the two-pass machinery: an
    empty frame and an all-zero-weight mixture both yield empty output
    with the contract schema."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        interleave_sources,
    )

    df = spark.createDataFrame([], "k long, s string")
    out = interleave_sources(df, "k", "s", {"a": 1.0}, mode="distributed")
    assert out.count() == 0 and "interleave_rank" in out.columns

    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    out2 = interleave_sources(
        df2, "k", "s", {"a": 0.0, "b": 0.0}, default_weight=0.0,
        mode="distributed",
    )
    assert out2.count() == 0


def test_interleave_null_source_equivalence(spark):
    """A null source value is a real stream (default weight applies);
    both modes must place its rows identically (the distributed stats
    join is null-safe on group keys)."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        interleave_sources,
    )

    rows = [(i, None if i % 4 == 0 else "a") for i in range(40)]
    df = spark.createDataFrame(rows, "k long, s string")
    kw = dict(weights={"a": 2.0}, default_weight=1.0)
    ser = {
        r["k"]: r["interleave_rank"]
        for r in interleave_sources(df, "k", "s", mode="serial", **kw).collect()
    }
    dist = {
        r["k"]: r["interleave_rank"]
        for r in interleave_sources(
            df, "k", "s", mode="distributed", **kw
        ).collect()
    }
    assert dist == ser and len(ser) == 40


def test_pack_ffd_capacity_determinism_and_beats_offset(spark):
    """FFD packing never overruns the budget, is partition-independent,
    marks unpackable rows with -1, and uses no more chunks than offset
    chunking on a heavy-tailed cost distribution."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        pack_sequences,
        pack_sequences_ffd,
    )

    rows = [(i, "g", [600, 500, 400, 300, 200, 100, 90, 80, 1500][i % 9] + i % 7)
            for i in range(90)]
    df = spark.createDataFrame(rows, "k long, grp string, cost long")
    out = pack_sequences_ffd(df, "k", "cost", budget=1024, part_col="grp")
    rowsc = out.collect()
    # capacity respected per chunk; oversize rows flagged
    loads: dict[int, int] = {}
    for r in rowsc:
        if r["cost"] > 1024:
            assert r["chunk"] == -1
        else:
            assert r["chunk"] >= 0
            loads[r["chunk"]] = loads.get(r["chunk"], 0) + r["cost"]
    assert all(v <= 1024 for v in loads.values())
    # deterministic under re-partitioning
    again = {
        (r["k"], r["chunk"])
        for r in pack_sequences_ffd(
            df.repartition(7), "k", "cost", budget=1024, part_col="grp"
        ).collect()
    }
    assert again == {(r["k"], r["chunk"]) for r in rowsc}
    # chunk count <= offset chunking's (on the packable subset)
    packable = df.filter(F.col("cost") <= 1024)
    n_offset = (
        pack_sequences(packable, "k", "cost", budget=1024, part_col="grp")
        .select("chunk").distinct().count()
    )
    assert len(loads) <= n_offset


def test_pack_ffd_sharded_capacity_and_partition_independence(spark):
    """r8 scale fix: with `shards`, FFD folds per (part, shard) — the
    capacity bound holds per shard, the shard is a pure function of the
    id (so the assignment survives re-partitioning), and the shards
    partition the rows exhaustively and disjointly."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        pack_sequences_ffd,
    )

    rows = [(i, "g", [600, 500, 400, 300, 200, 100, 90, 80, 1500][i % 9] + i % 7)
            for i in range(120)]
    df = spark.createDataFrame(rows, "k long, grp string, cost long")
    out = pack_sequences_ffd(
        df, "k", "cost", budget=1024, part_col="grp", shards=4, hash_fn="poly"
    ).collect()
    assert {r["k"] for r in out} == set(range(120))  # exhaustive, disjoint
    assert {r["shard"] for r in out} == {0, 1, 2, 3}
    loads: dict[tuple, int] = {}
    for r in out:
        if r["cost"] > 1024:
            assert r["chunk"] == -1
        else:
            key = (r["shard"], r["chunk"])
            loads[key] = loads.get(key, 0) + r["cost"]
    assert all(v <= 1024 for v in loads.values())
    again = {
        (r["k"], r["shard"], r["chunk"])
        for r in pack_sequences_ffd(
            df.repartition(7), "k", "cost", budget=1024, part_col="grp",
            shards=4, hash_fn="poly",
        ).collect()
    }
    assert again == {(r["k"], r["shard"], r["chunk"]) for r in out}


def test_pack_sequences_sharded_equals_per_shard_pack(spark):
    """Sharded offset chunking ≡ unsharded offset chunking applied to
    each shard's subset independently — the shard key only splits the
    window partition, never changes the per-shard assignment."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        pack_sequences,
    )

    rows = [(i, "g", (i * 13) % 300 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, grp string, cost long")
    sharded = pack_sequences(
        df, "k", "cost", budget=500, part_col="grp", shards=3, hash_fn="poly"
    )
    got = {(r["k"], r["shard"], r["chunk"]) for r in sharded.collect()}
    want = set()
    for s in range(3):
        sub = sharded.filter(F.col("shard") == s).drop("shard", "chunk")
        for r in pack_sequences(
            sub, "k", "cost", budget=500, part_col="grp"
        ).collect():
            want.add((r["k"], s, r["chunk"]))
    assert got == want


def test_pack_group_size_guards_fail_loudly(spark):
    """Both packing variants must refuse a group larger than
    max_group_rows instead of silently single-tasking a corpus slice:
    the FFD guard fires in the fold, the offset guard rides on the
    chunk expression (distributed assert, same window sort)."""
    import pytest

    from kamu_engine_datafusion_spark.operators.sampling import (
        pack_sequences,
        pack_sequences_ffd,
    )

    rows = [(i, "g", 10) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, grp string, cost long")
    with pytest.raises(Exception, match="max_group_rows"):
        pack_sequences_ffd(
            df, "k", "cost", budget=100, part_col="grp", max_group_rows=10
        ).count()
    with pytest.raises(Exception, match="max_group_rows"):
        pack_sequences(
            df, "k", "cost", budget=100, part_col="grp", max_group_rows=10
        ).groupBy("chunk").count().collect()
    # sharding below the cap passes the same guard
    n = pack_sequences_ffd(
        df, "k", "cost", budget=100, part_col="grp", shards=8,
        max_group_rows=10,
    ).count()
    assert n == 50


def _dsir_corpora(spark):
    rows = [
        (i, "en" if i % 2 == 0 else "sw",
         "tgt" if i < 40 else "raw",
         " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "source", "text"])
    return (df.filter(F.col("source") != "tgt"),
            df.filter(F.col("source") == "tgt"))


def test_dsir_null_text_scores_zero(spark):
    """ADVICE r8: a NULL-text doc must score 0 (weight e^0), not NULL —
    a NULL score would null the Gumbel key and silently drop the doc
    from the draw, diverging from the oracle's COALESCE(score, 0)."""
    from kamu_engine_datafusion_spark.operators.sampling import dsir_scores

    raw, tgt = _dsir_corpora(spark)
    with_null = raw.withColumn(
        "text",
        F.when(F.col("doc_id") == 41, F.lit(None).cast("string")).otherwise(
            F.col("text")
        ),
    )
    scored = dsir_scores(with_null, tgt, buckets=64)
    row = scored.filter(F.col("doc_id") == 41).collect()[0]
    assert row["dsir_score"] == 0
    assert scored.filter(F.col("dsir_score").isNull()).count() == 0


def test_dsir_sample_stable_across_partitioning(spark):
    from kamu_engine_datafusion_spark.operators.sampling import dsir_sample

    raw, tgt = _dsir_corpora(spark)
    a = [r["doc_id"] for r in
         dsir_sample(raw, tgt, n=25, buckets=64).select("doc_id").collect()]
    b = [r["doc_id"] for r in
         dsir_sample(raw.repartition(13), tgt, n=25, buckets=64)
         .select("doc_id").collect()]
    assert a == b and len(a) == 25


def test_dsir_diagnostics_bounds(spark):
    """ESS ∈ (0, n]; ess_ratio ∈ (0, 1]; topk_share ∈ (0, 1] and ≥ k/n
    only when weights concentrate — uniform weights give ess ≈ n."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        dsir_diagnostics,
    )

    raw, tgt = _dsir_corpora(spark)
    diag = {r["lang"]: r for r in
            dsir_diagnostics(raw, tgt, group_col="lang", buckets=64).collect()}
    assert set(diag) == {"en", "sw"}
    for r in diag.values():
        assert 0 < r["ess"] <= r["n_docs"] + 1e-9
        assert 0 < r["ess_ratio"] <= 1.0
        assert 0 < r["topk_share"] <= 1.0
    # uniform-weight sanity: identical docs -> ESS == n exactly
    uni = raw.withColumn("text", F.lit("a b c d"))
    d = dsir_diagnostics(uni, tgt, group_col="lang", buckets=64).collect()[0]
    assert abs(d["ess"] - d["n_docs"]) < 0.02


def test_curriculum_stages_equal_counts_and_monotonic(spark):
    from kamu_engine_datafusion_spark.operators.sampling import (
        curriculum_stages,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "sw", float(i % 17)) for i in range(402)],
        ["doc_id", "lang", "difficulty"],
    )
    out = curriculum_stages(df, "difficulty", n_stages=4, part_col="lang")
    # equal-count split per stratum (sizes differ by at most 1)
    sizes = {
        (r["lang"], r["stage"]): r["n"]
        for r in out.groupBy("lang", "stage")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang in ("en", "sw"):
        per = [sizes[(lang, s)] for s in (1, 2, 3, 4)]
        assert max(per) - min(per) <= 1
    # stage boundaries are monotone in difficulty within each stratum
    b = {
        (r["lang"], r["stage"]): (r["lo"], r["hi"])
        for r in out.groupBy("lang", "stage")
        .agg(F.min("difficulty").alias("lo"), F.max("difficulty").alias("hi"))
        .collect()
    }
    for lang in ("en", "sw"):
        for s in (1, 2, 3):
            assert b[(lang, s)][1] <= b[(lang, s + 1)][0] + 1e-9


def test_packing_efficiency_curve_invariants(spark):
    from kamu_engine_datafusion_spark.operators.sampling import (
        packing_efficiency,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "sw", 10 + (i * 37) % 300)
         for i in range(3000)],
        ["doc_id", "lang", "cost"],
    )
    rows = {
        r["budget"]: r
        for r in packing_efficiency(
            df, "doc_id", "cost", budgets=[128, 512, 2048], shards=4
        ).collect()
    }
    assert set(rows) == {128, 512, 2048}
    for b, r in rows.items():
        assert 0 < r["efficiency"] <= 1.0 + 1e-9
        assert r["total_cost"] <= r["n_chunks"] * b + 300  # offset-chunking
        assert r["n_docs"] > 0 and r["n_chunks"] > 0
    # doc set grows with budget (fewer oversize exclusions)
    assert rows[128]["n_docs"] <= rows[512]["n_docs"] <= rows[2048]["n_docs"]
    # 512 and 2048 admit the SAME docs (max cost 309): bigger budget,
    # fewer chunks over an identical doc set
    assert rows[512]["n_docs"] == rows[2048]["n_docs"]
    assert rows[512]["n_chunks"] > rows[2048]["n_chunks"]
    assert rows[512]["total_cost"] == rows[2048]["total_cost"]


def test_curriculum_quantile_mode_windowless_and_consistent(spark):
    """mode='quantile' (the corpus-scale path): no Window/sort in the
    plan, stages ordered exactly, sizes near-equal at high accuracy,
    and on distinct evenly-spread difficulties it matches ntile."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        curriculum_stages,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "sw", float((i * 7) % 401))
         for i in range(402)],
        ["doc_id", "lang", "difficulty"],
    )
    out = curriculum_stages(
        df, "difficulty", n_stages=4, part_col="lang", mode="quantile"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Sort" not in plan  # windowless AND sortless — rides the scan
    rows = out.collect()
    assert all(1 <= r["stage"] <= 4 for r in rows)
    # exact difficulty ordering across stages (monotone assignment)
    b: dict = {}
    for r in rows:
        lo, hi = b.get((r["lang"], r["stage"]), (float("inf"), float("-inf")))
        b[(r["lang"], r["stage"])] = (
            min(lo, r["difficulty"]), max(hi, r["difficulty"])
        )
    for lang in ("en", "sw"):
        for s in (1, 2, 3):
            if (lang, s) in b and (lang, s + 1) in b:
                assert b[(lang, s)][1] <= b[(lang, s + 1)][0]
    # near-equal sizes: every stage within 25% of the ideal quarter
    from collections import Counter

    sizes = Counter((r["lang"], r["stage"]) for r in rows)
    totals = Counter(r["lang"] for r in rows)
    for (lang, _s), n in sizes.items():
        ideal = totals[lang] / 4
        assert abs(n - ideal) <= max(2, 0.25 * ideal)


def test_curriculum_unknown_mode_raises(spark):
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.sampling import (
        curriculum_stages,
    )

    df = spark.createDataFrame([(1, "en", 1.0)], ["doc_id", "lang", "d"])
    with _pytest.raises(ValueError, match="curriculum mode"):
        curriculum_stages(df, "d", mode="zipf")


def test_rank_filters_get_partial_window_group_limit(spark):
    """The hot-group safety of every ``row_number ≤ k`` operator rests
    on Catalyst's InferWindowGroupLimit inserting a map-side Partial
    WindowGroupLimit BEFORE the group exchange (so a hot group ships ≤
    k rows per upstream partition, not its full size). Pin that plan
    shape for cap_per_group and weighted_sample_per_group — if a future
    refactor breaks the recognizable rank-filter form (or a Spark
    upgrade drops the rule), this fails rather than silently
    reintroducing the one-task-sorts-a-domain pathology. (Measured r9:
    an explicit two-phase sharded top-cap was 3× slower at 20M rows in
    one group than this optimizer path — SCALE.md.)"""
    from kamu_engine_datafusion_spark.operators.sampling import (
        cap_per_group,
        weighted_sample_per_group,
    )

    df = spark.createDataFrame(
        [(i, f"d{i % 3}", float(1 + i % 7)) for i in range(600)],
        ["doc_id", "domain", "w"],
    )
    for out in (
        cap_per_group(df, "doc_id", "domain", 10),
        weighted_sample_per_group(df, "w", "domain", 10),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert out.count() == 30  # 3 groups × 10


def test_pack_sequences_eager_guard(spark):
    """eager_guard=True raises driver-side (naming the hot group) even
    when the caller's downstream plan would prune the chunk column —
    the pruning hole the expression-riding guard documents; and it
    passes through untouched when every group fits."""
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.sampling import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(i, "en" if i < 90 else "sw", 10) for i in range(100)],
        ["doc_id", "lang", "cost"],
    )
    with _pytest.raises(ValueError, match="'lang': 'en'"):
        pack_sequences(
            df, "doc_id", "cost", budget=64, part_col="lang",
            max_group_rows=50, eager_guard=True,
        )
    ok = pack_sequences(
        df, "doc_id", "cost", budget=64, part_col="lang",
        max_group_rows=1000, eager_guard=True,
    )
    # a projection that never reads chunk — the exact pruning case
    assert ok.select("doc_id").count() == 100


def test_pack_layout_manifest(spark):
    """pack_layout: chunk matches pack_sequences exactly; start is the
    within-chunk exclusive offset (0 for each chunk's first row,
    < budget always, consecutive rows advance by cost except across a
    chunk boundary); plan keeps ONE exchange (chunk+start share the
    running-cost window)."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        pack_layout,
        pack_sequences,
    )

    rows = [(i, "g", c) for i, c in enumerate([50, 60, 40, 100, 10, 95])]
    df = spark.createDataFrame(rows, ["k", "grp", "cost"])
    lay = pack_layout(df, "k", "cost", budget=100, part_col="grp")
    # plan BEFORE execution: post-collect AQE prints final+initial plans
    # and double-counts the exchange string
    plan = lay._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    got = {r["k"]: (r["chunk"], r["start"]) for r in lay.collect()}
    # offsets: 0,50,110,150,250,260 -> chunk 0,0,1,1,2,2; start = off-100*chunk
    assert got == {0: (0, 0), 1: (0, 50), 2: (1, 10), 3: (1, 50),
                   4: (2, 50), 5: (2, 60)}
    seq = {r["k"]: r["chunk"] for r in
           pack_sequences(df, "k", "cost", 100, "grp").collect()}
    assert {k: v[0] for k, v in got.items()} == seq
    assert all(0 <= s < 100 for _c, s in got.values())


def test_pack_layout_and_ffd_eager_guard(spark):
    """r10: the eager oversize-group guard now covers the whole pack_*
    family (the registry q_xpack_* keys all run with it on)."""
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.sampling import (
        pack_layout,
        pack_sequences_ffd,
        packing_efficiency,
    )

    df = spark.createDataFrame(
        [(i, "en" if i < 90 else "sw", 10) for i in range(100)],
        ["doc_id", "lang", "cost"],
    )
    with _pytest.raises(ValueError, match="pack_layout.*'lang': 'en'"):
        pack_layout(
            df, "doc_id", "cost", budget=64, part_col="lang",
            max_group_rows=50, eager_guard=True,
        )
    with _pytest.raises(ValueError, match="pack_sequences_ffd.*'en'"):
        pack_sequences_ffd(
            df, "doc_id", "cost", budget=64, part_col="lang",
            max_group_rows=50, eager_guard=True,
        )
    with _pytest.raises(ValueError, match="packing_efficiency"):
        packing_efficiency(
            df.withColumn("doc_id", F.col("doc_id").cast("long")),
            "doc_id", "cost", budgets=[64], part_col="lang", shards=1,
            max_group_rows=50, eager_guard=True,
        )
    # all pass untouched when groups fit
    ok = pack_layout(
        df, "doc_id", "cost", budget=64, part_col="lang",
        max_group_rows=1000, eager_guard=True,
    )
    assert ok.count() == 100


# ---------------------------------------------------------------------------
# property tests (hypothesis): the A-Res fold is an exact merge for
# ANY weights, ANY n, ANY split — the invariant maintained_weighted_
# sample and every distributed partial depend on
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings as _hsettings  # noqa: E402
from hypothesis import strategies as _st  # noqa: E402


@_hsettings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ws=_st.lists(
        _st.integers(min_value=0, max_value=500), min_size=1, max_size=80
    ),
    n=_st.integers(min_value=1, max_value=20),
    cut=_st.integers(min_value=0, max_value=79),
)
def test_weighted_sample_topn_merge_exact_any_corpus(spark, ws, n, cut):
    """topn(A ∪ B) == topn(topn(A) ∪ topn(B)) row-for-row for any
    weights (incl. zero-weight exclusions), any n, any split point —
    the reservoir is a pure function of the input set because the
    A-Res key derives from the row id hash."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [("g", i, w) for i, w in enumerate(ws)]
    cut = min(cut, len(rows))
    schema = "grp string, doc_id long, w long"

    def draw(rs):
        if not rs:
            return []
        return weighted_sample_per_group(
            spark.createDataFrame(rs, schema),
            "w", "grp", n=n, key_col="doc_id", hash_fn="poly",
        ).collect()

    full = sorted(tuple(r) for r in draw(rows))
    part_union = [tuple(r) for r in draw(rows[:cut])] + [
        tuple(r) for r in draw(rows[cut:])
    ]
    refold = sorted(
        tuple(r)
        for r in draw([(g, i, w) for g, i, w in part_union])
    )
    assert refold == full


def test_negative_samples_ring_properties(spark):
    """Ring negatives: exactly k per anchor, never self, deterministic
    across partitionings, serial mode matches a python ring replay, and
    re-salting changes the draw."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        negative_samples,
    )

    ids = list(range(30))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = negative_samples(df, "doc_id", k=3, mode="serial", hash_fn="poly")
    rows = [(r["anchor"], r["neg_id"], r["slot"]) for r in out.collect()]
    per_anchor = {}
    for a, n, s in rows:
        assert a != n
        per_anchor.setdefault(a, set()).add((s, n))
    assert set(per_anchor) == set(ids)
    assert all(len(v) == 3 for v in per_anchor.values())

    # python replay of the serial ring
    from kamu_engine_datafusion_spark.functions.columns import poly_hash31

    k_salt = (1103515245 * 1 + 12345) % 2_147_483_647
    hdf = spark.createDataFrame([(i,) for i in ids], "doc_id long").select(
        "doc_id",
        F.pmod(
            poly_hash31(F.reverse(F.col("doc_id").cast("string")))
            * F.lit(k_salt),
            F.lit(2_147_483_647),
        ).alias("h"),
    )
    hs = {r["doc_id"]: r["h"] for r in hdf.collect()}
    ring = sorted(ids, key=lambda i: (hs[i], i))
    want = set()
    for pos, a in enumerate(ring):
        for s in (1, 2, 3):
            want.add((a, ring[(pos + s) % len(ring)], s))
    assert set(rows) == want

    # sharded mode: same guarantees (k per anchor, no self), and
    # partition-independence
    sh = negative_samples(
        df.repartition(7), "doc_id", k=3, mode="sharded", shards=4,
        hash_fn="poly",
    )
    a1 = sorted(tuple(r) for r in sh.collect())
    a2 = sorted(
        tuple(r)
        for r in negative_samples(
            df, "doc_id", k=3, mode="sharded", shards=4, hash_fn="poly"
        ).collect()
    )
    assert a1 == a2
    assert len(a1) == 90 and all(a != n for a, n, _ in a1)
    # re-salt -> different draw
    b = sorted(
        tuple(r)
        for r in negative_samples(
            df, "doc_id", k=3, mode="serial", salt=1, hash_fn="poly"
        ).collect()
    )
    assert b != sorted(rows)
    # too-small ring raises loudly
    import pytest as _pytest

    tiny = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with _pytest.raises(ValueError, match="ring has"):
        negative_samples(tiny, "doc_id", k=3, mode="serial")


def _qsk_python(rows, k, n_stages):
    """Python replay of the hash-level quantile sketch + curriculum
    cuts: rows = [(grp, rid, val)]; returns {grp: [cut1, ...]}."""
    M31 = 2_147_483_647

    def poly(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % M31
        return acc

    def lvl(rid):
        h = poly(rid + "#qsk")
        if h == 0:
            return 31
        r = 0
        while h % 2 == 0:
            h //= 2
            r += 1
        return r

    by_grp = {}
    for g, rid, val in rows:
        if rid is None or val is None:
            continue
        by_grp.setdefault(g, []).append((rid, val, lvl(rid)))
    cuts = {}
    for g, rs in by_grp.items():
        if len(rs) <= k:
            thr = 0
        else:
            thr = 0
            for L in range(31, -1, -1):
                if sum(1 for _, _, lv in rs if lv >= L) > k:
                    thr = L + 1
                    break
        ret = sorted(
            ((val, rid) for rid, val, lv in rs if lv >= thr),
        )
        s = len(ret)
        cuts[g] = [
            ret[(i * (s - 1)) // n_stages][0] for i in range(1, n_stages)
        ]
    return cuts


def test_curriculum_from_sketch_matches_python_replay(spark):
    """Sketch-fed curriculum: boundaries = integer rank selection over
    the retained rows, stage = 1 + #{cuts < difficulty} with
    boundary-equal rows in the LOWER stage — replayed exactly in
    python (cuts AND assignment), partition-independent."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        curriculum_from_sketch,
    )
    from kamu_engine_datafusion_spark.operators.sketches import (
        quantile_sketch,
    )

    rng = __import__("random").Random(5)
    rows = [
        (
            "en" if i % 3 else "sw",
            f"d{i:04d}x{rng.randrange(1000):03d}",
            rng.randrange(0, 500),
        )
        for i in range(900)
    ]
    df = spark.createDataFrame(rows, "lang string, rid string, diff long")
    sk = quantile_sketch(df, ["lang"], "rid", "diff", k=64)
    out = curriculum_from_sketch(
        df.repartition(13), sk, "diff", ["lang"], "rid", n_stages=4
    )
    got = {r["rid"]: r["stage"] for r in out.collect()}
    cuts = _qsk_python(rows, k=64, n_stages=4)
    for g, rid, val in rows:
        want = 1 + sum(1 for c in cuts[g] if val > c)
        assert got[rid] == want, (g, rid, val, cuts[g])
    # the stages are a real split at this k (not all one stage)
    assert len(set(got.values())) == 4


def test_curriculum_from_sketch_unscheduled_is_null(spark):
    """A group absent from the sketch state and a NULL difficulty both
    get stage NULL — loudly unscheduled, never silently stage 1; row
    count is unaffected (assignment never drops)."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        curriculum_from_sketch,
    )
    from kamu_engine_datafusion_spark.operators.sketches import (
        quantile_sketch,
    )

    base = spark.createDataFrame(
        [("en", f"r{i}", i) for i in range(40)],
        "lang string, rid string, diff long",
    )
    sk = quantile_sketch(base, ["lang"], "rid", "diff", k=16)
    probe = base.unionByName(
        spark.createDataFrame(
            [("xx", "new1", 7), ("en", "nulldiff", None)],
            "lang string, rid string, diff long",
        )
    )
    out = curriculum_from_sketch(probe, sk, "diff", ["lang"], "rid", 3)
    got = {r["rid"]: r["stage"] for r in out.collect()}
    assert len(got) == 42
    assert got["new1"] is None and got["nulldiff"] is None
    assert all(v is not None for k, v in got.items()
               if k not in ("new1", "nulldiff"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_stages"):
        curriculum_from_sketch(probe, sk, "diff", ["lang"], "rid", 1)


def test_curriculum_from_sketch_over_maintained_state(spark, tmp_path):
    """Stage assignment against 3-tick maintained_quantile_sketch
    state == against the batch sketch of the whole ledger (the exact
    merge law carried to the curriculum): boundaries come from folded
    state, the corpus is never re-sorted."""
    import os

    from kamu_engine_datafusion_spark.operators.sampling import (
        curriculum_from_sketch,
    )
    from kamu_engine_datafusion_spark.operators.sketches import (
        quantile_sketch,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_quantile_sketch,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "cledger")
    state_dir = os.path.join(str(tmp_path), "cstate")
    ck = os.path.join(str(tmp_path), "cck")
    os.makedirs(ledger_dir)
    schema = "lang string, rid string, diff long"
    rng = __import__("random").Random(9)
    all_rows = [
        ("en" if i % 2 else "de", f"q{i:04d}", rng.randrange(0, 300))
        for i in range(600)
    ]

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_quantile_sketch(
            ledger_dir, state_dir, ck, ["lang"], "rid", "diff", k=32,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    tick(all_rows[:200])
    tick(all_rows[200:450])
    tick(all_rows[450:])
    full = spark.createDataFrame(all_rows, schema)
    state = read_maintained_state(spark, state_dir).select(
        "lang", "rid", "diff", "lvl", "thr"
    )
    got = sorted(
        (r["rid"], r["stage"])
        for r in curriculum_from_sketch(
            full, state, "diff", ["lang"], "rid", n_stages=5
        ).collect()
    )
    want = sorted(
        (r["rid"], r["stage"])
        for r in curriculum_from_sketch(
            full,
            quantile_sketch(full, ["lang"], "rid", "diff", k=32),
            "diff",
            ["lang"],
            "rid",
            n_stages=5,
        ).collect()
    )
    assert got == want
    # monotone: within a lang, stage never decreases as diff rises
    rows = curriculum_from_sketch(
        full, state, "diff", ["lang"], "rid", n_stages=5
    ).collect()
    for lang in ("en", "de"):
        seq = sorted(
            (r["diff"], r["stage"]) for r in rows if r["lang"] == lang
        )
        stages = [s for _, s in seq]
        assert stages == sorted(stages)


def test_dsir_from_stats_equals_batch_and_maintained(spark, tmp_path):
    """dsir_scores_from_stats over pre-aggregated count frames ==
    dsir_scores recomputing from the corpora, bit-for-bit; and over
    3-tick maintained_dsir_stats state == over batch counts of the
    whole ledger — scoring a new tick never re-counts history."""
    import os

    from kamu_engine_datafusion_spark.operators.sampling import (
        dsir_bucket_counts,
        dsir_scores,
        dsir_scores_from_stats,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_dsir_stats,
        read_maintained_state,
    )

    rng = __import__("random").Random(17)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]

    def doc(i, bias):
        n = rng.randrange(3, 12)
        ws = [
            words[min(len(words) - 1, rng.randrange(bias))]
            for _ in range(n)
        ]
        return (i, " ".join(ws))

    raw_rows = [doc(i, 7) for i in range(300)] + [(9001, None)]
    tgt_rows = [doc(10_000 + i, 3) for i in range(120)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")

    want = sorted(
        (r["doc_id"], r["dsir_score"])
        for r in dsir_scores(raw, tgt, buckets=64).collect()
    )
    got = sorted(
        (r["doc_id"], r["dsir_score"])
        for r in dsir_scores_from_stats(
            raw,
            dsir_bucket_counts(tgt, buckets=64),
            dsir_bucket_counts(raw, buckets=64),
            buckets=64,
        ).collect()
    )
    assert got == want

    # maintained raw-model fold: 3 ticks == batch counts, and scoring
    # the LAST tick with folded stats == scoring it with batch stats
    ledger_dir = os.path.join(str(tmp_path), "dledger")
    state_dir = os.path.join(str(tmp_path), "dstate")
    ck = os.path.join(str(tmp_path), "dck")
    os.makedirs(ledger_dir)

    def tick(rows):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(ledger_dir)
        maintained_dsir_stats(
            ledger_dir, state_dir, ck, "text", buckets=64,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    tick(raw_rows[:100])
    tick(raw_rows[100:220])
    tick(raw_rows[220:])
    state = read_maintained_state(spark, state_dir).select("b", "c")
    assert sorted(tuple(r) for r in state.collect()) == sorted(
        tuple(r) for r in dsir_bucket_counts(raw, buckets=64).collect()
    )
    new_tick = spark.createDataFrame(
        raw_rows[220:], "doc_id long, text string"
    )
    live = sorted(
        (r["doc_id"], r["dsir_score"])
        for r in dsir_scores_from_stats(
            new_tick, dsir_bucket_counts(tgt, buckets=64), state,
            buckets=64,
        ).collect()
    )
    batch = sorted(
        (r["doc_id"], r["dsir_score"])
        for r in dsir_scores_from_stats(
            new_tick,
            dsir_bucket_counts(tgt, buckets=64),
            dsir_bucket_counts(raw, buckets=64),
            buckets=64,
        ).collect()
    )
    assert live == batch


def test_sample_with_cuts_unseen_stratum_kept(spark):
    """r16 advice fix: a stratum absent from the cut table (a
    brand-new language in a tick the counts fold has not seen) is
    KEPT at 100% by default — temperature sampling exists to uphold
    tiny strata, so the old inner join silently dropping them was the
    opposite of the operator's intent. default_cut=0 restores the
    drop-unseen behavior explicitly; seen strata honor their cut
    either way."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        _BUCKETS,
        sample_with_cuts,
    )

    cuts = spark.createDataFrame(
        [("en", 0), ("fr", int(_BUCKETS))], "lang string, __cut long"
    )
    data = spark.createDataFrame(
        [(i, "en") for i in range(10)]
        + [(100 + i, "fr") for i in range(10)]
        + [(200 + i, "xx") for i in range(10)],
        "doc_id long, lang string",
    )
    kept = sample_with_cuts(data, cuts, "doc_id", "lang").collect()
    by_lang = {}
    for r in kept:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert by_lang == {"fr": 10, "xx": 10}  # en cut 0; unseen xx kept

    dropped = sample_with_cuts(
        data, cuts, "doc_id", "lang", default_cut=0
    ).collect()
    assert sorted({r["lang"] for r in dropped}) == ["fr"]


def test_dsir_arrow_backend_twins(spark):
    """The vectorized DSIR kernels (dsir_bucket_udf / dsir_score_udf)
    are bit-exact with the interpreted bigram fold called directly with
    the poly profile — bucket counts AND per-doc scores, incl. null
    text, empty text, one-token docs, tab/newline whitespace, and
    unicode."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.operators import sampling as S
    from kamu_engine_datafusion_spark.operators.sampling import (
        dsir_bucket_counts,
        dsir_scores,
    )

    raw, tgt = _dsir_corpora(spark)
    edge = spark.createDataFrame(
        [(900, "en", "raw", None), (901, "en", "raw", ""),
         (902, "en", "raw", "solo"), (903, "en", "raw", "a\tb\nc "),
         (904, "en", "raw", "héllo wörld Ünïcödé 日本 語"),
         (905, "en", "raw", "  x  y  ")],
        ["doc_id", "lang", "source", "text"],
    )
    raw = raw.unionByName(edge)

    counts = sorted(
        map(
            tuple,
            dsir_bucket_counts(raw, buckets=64, hash_fn="poly").collect(),
        )
    )
    scores = sorted(
        (r["doc_id"], r["dsir_score"])
        for r in dsir_scores(raw, tgt, buckets=64, hash_fn="poly").collect()
    )

    def fold_counts(d):
        return (
            S._dsir_bucket_fold(d, "text", 64, "poly")
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    jvm_counts = sorted(map(tuple, fold_counts(raw).collect()))
    lr = S._dsir_lr_ints(
        dict(fold_counts(tgt).collect()), dict(jvm_counts), 64, 0.5
    )
    jvm_scores = sorted(
        (r["doc_id"], r["s"])
        for r in raw.select(
            "doc_id",
            F.coalesce(
                S._dsir_score_fold(F.col("text"), lr, 64, "poly"), F.lit(0)
            ).alias("s"),
        ).collect()
    )
    assert counts == jvm_counts
    assert scores == jvm_scores
    assert any(s != 0 for _, s in scores)
