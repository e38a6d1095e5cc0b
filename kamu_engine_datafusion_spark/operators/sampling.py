"""Deterministic sampling for training-data pipelines.

Pipelines need samples that are reproducible across runs, engines, and
re-partitioning — so sampling is keyed on a stable id (or content hash),
never on ``rand()``. ``df.sample()`` is seed-stable only for a fixed
partitioning; these are stable, period.

- :func:`deterministic_sample` — keep rows whose keyed hash falls under
  the fraction (consistent across any execution plan).
- :func:`split_by_group` — leakage-safe train/holdout split of whole
  groups from the same keyed hash.

All pure column predicates → pushed to the scan, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Buckets for the keyed hash; 10_000 gives 0.01% fraction resolution.
_BUCKETS = 10_000


def _bucket(key: Column, salt: int, hash_fn: str = "xxhash64") -> Column:
    """Stable bucket in [0, _BUCKETS) from a key column; ``salt``
    decorrelates independent sampling decisions on the same key.
    ``hash_fn="poly"`` uses the SQL-expressible polynomial hash of the
    key's string form (cross-engine verifiable)."""
    if hash_fn == "poly":
        from kamu_engine_datafusion_spark.functions.columns import poly_hash31

        return F.pmod(
            poly_hash31(F.concat(key.cast("string"), F.lit(f"#{salt}"))),
            F.lit(_BUCKETS),
        )
    return F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(_BUCKETS))


def _shard(key: Column, shards: int, hash_fn: str = "xxhash64") -> Column:
    """Stable sub-shard id in [0, shards) from a key column — used to
    bound per-group work (window sorts, pandas folds) that would
    otherwise concentrate a whole partition value (e.g. ``lang='en'``
    over a 100 TB corpus) into one task. ``hash_fn="poly"`` uses the
    SQL-expressible polynomial hash so an oracle can reproduce the
    shard assignment."""
    if hash_fn == "poly":
        from kamu_engine_datafusion_spark.functions.columns import poly_hash31

        return F.pmod(poly_hash31(key.cast("string")), F.lit(shards))
    return F.pmod(F.xxhash64(key), F.lit(shards))


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by keyed hash — the same rows
    every run regardless of partitioning or cluster size."""
    return df.filter(
        _bucket(F.col(key_col), salt, hash_fn) < int(fraction * _BUCKETS)
    )


def stratified_sample_exact(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fraction: float,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """EXACTLY ``ceil(fraction × n)`` rows per stratum, chosen by
    keyed-hash order — deterministic across runs, engines, and
    partitionings (the hash orders rows, the rank cuts the sample).

    Use over a per-row keyed-hash filter (:func:`deterministic_sample`
    per stratum) when the binomial spread of per-row hashing is
    unacceptable (small strata, hard quota).

    Scale: ONE shuffle on the stratum key; the rank and the stratum-size
    windows share that exchange. A single giant stratum serializes
    through one partition's window sort — for heavy-tailed strata prefer
    a per-row keyed-hash filter, which stays embarrassingly parallel.
    """
    b = _bucket(F.col(key_col), salt, hash_fn)
    w_rank = Window.partitionBy(stratum_col).orderBy(b, F.col(key_col))
    w_size = Window.partitionBy(stratum_col)
    return (
        df.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_size))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * F.lit(float(fraction))))
        .drop("__rn", "__n")
    )


def temperature_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Temperature-balanced sampling across strata (the multilingual
    training-mix pattern: corpus shares are flattened toward uniform
    with ``share^alpha`` before sampling, so low-resource languages are
    upsampled *relative to* high-resource ones).

    Stratum ``l`` with count ``c_l`` gets sampling weight
    ``q_l = c_l^alpha / Σ c^alpha``; the expected kept size is
    ``target_fraction × total``, allocated ``∝ q_l`` and capped at the
    stratum's own size (a stratum is never oversampled past 100% —
    pipelines repeat epochs for that, they don't duplicate rows).
    ``alpha=1`` reduces to plain proportional sampling, ``alpha=0`` to
    equal-size strata.

    Scale: one tiny per-stratum count aggregate → per-stratum keep
    fraction → broadcast join back → keyed-hash row filter. The corpus
    is touched twice (count pass + filter pass) and never shuffled; the
    stratum table is assumed broadcast-sized (languages, sources —
    thousands, not billions).

    Determinism: row choice is the keyed hash of ``key_col`` — stable
    across runs, engines, partitionings. The per-stratum threshold is
    rounded to 6 decimals before the integer-bucket cut so that
    cross-engine float ulp differences cannot move the cut.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__c"))
    tot = counts.agg(
        F.sum("__c").alias("__tot"),
        F.sum(F.pow("__c", F.lit(float(alpha)))).alias("__z"),
    )
    frac = F.least(
        F.lit(1.0),
        F.lit(float(target_fraction))
        * F.col("__tot")
        * F.pow("__c", F.lit(float(alpha)))
        / F.col("__z")
        / F.col("__c"),
    )
    cut = F.floor(F.round(frac * _BUCKETS, 6)).cast("long")
    cuts = counts.crossJoin(F.broadcast(tot)).select(
        stratum_col, cut.alias("__cut")
    )
    return (
        df.join(F.broadcast(cuts), stratum_col)
        .filter(_bucket(F.col(key_col), salt, hash_fn) < F.col("__cut"))
        .drop("__cut")
    )


def cap_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    cap: int,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by keyed-hash order —
    the per-domain document cap (RefinedWeb-style) that stops any single
    site/source from dominating the training mix.

    The hash order makes the survivors a uniform random-but-deterministic
    subset of each group (not "first by id", which would bias toward old
    crawls). Ties broken by ``key_col``.

    Scale: the ``row_number ≤ cap`` shape triggers Catalyst's
    ``InferWindowGroupLimit`` — a *Partial* ``WindowGroupLimit`` runs
    map-side BEFORE the group-key exchange, so even a pathologically
    hot group ships at most ``cap`` rows per upstream partition and the
    reducer sort input is ≤ ``cap × upstream partitions``, not the
    group size. (Measured: an explicit two-phase sharded top-``cap``
    was 3× SLOWER at 20M rows/one group — it adds an exchange the
    optimizer's group limit makes redundant; plan pinned by pytest,
    SCALE.md r9.) Don't add salting here; keep the rank filter in the
    ``row_number().over(...) ≤ k`` form the rule recognizes.
    """
    w = Window.partitionBy(group_col).orderBy(
        _bucket(F.col(key_col), salt, hash_fn), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def shuffle_rank(
    df: DataFrame,
    key_col: str,
    salt: int = 0,
    hash_fn: str = "xxhash64",
    mode: str = "distributed",
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets a
    dense ``shuffle_rank`` (0-based) in keyed-hash order — the corpus
    permutation is a pure function of (keys, salt), reproducible across
    runs, engines, and cluster sizes. Change ``salt`` per epoch for a
    fresh permutation.

    ``mode="distributed"`` (default): range-partition + local sort on
    the hash (Spark's TeraSort shape — no single-task sort), then dense
    ranks via the same two-pass per-partition-count assignment as the
    A13 scale mode. ``mode="serial"``: single-partition window
    ``row_number`` — exact same output, for small inputs and the
    cross-engine oracle path.
    """
    b = _bucket(F.col(key_col), salt, hash_fn)
    if mode == "serial":
        # BOUNDED-WINDOW CLASS: serial mode is the documented
        # small-input/oracle path — never feed a corpus through this
        # global window; use the distributed mode at scale.
        w = Window.orderBy(b, F.col(key_col))
        return df.withColumn(
            "shuffle_rank", (F.row_number().over(w) - 1).cast("long")
        )
    from kamu_engine_datafusion_spark.operators.system_columns import (
        assign_offsets_distributed,
    )

    ordered = df.withColumn("__b", b).repartitionByRange(
        "__b", key_col
    ).sortWithinPartitions("__b", key_col)
    return assign_offsets_distributed(ordered, "shuffle_rank", 0).drop("__b")


def _eager_group_guard(
    df: DataFrame, keys: list[str], max_group_rows: int, op: str
) -> None:
    """Driver-side oversize-packing-group check shared by the pack_*
    family: ONE cheap count-per-group aggregate run NOW (a fraction of
    the packing window's own exchange), raising with the offending
    group named — independent of whether any downstream plan ever
    evaluates the ``chunk`` expression the lazy guard rides on."""
    grouped = df.groupBy(*keys) if keys else df.groupBy(F.lit(1))
    hot = (
        grouped.agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > int(max_group_rows))
        .head(1)
    )
    if hot:
        row = hot[0].asDict()
        n = row.pop("__n")
        raise ValueError(
            f"{op}: packing group {row} has {n} rows, over "
            f"max_group_rows={max_group_rows} — raise `shards` (or "
            f"max_group_rows) instead of single-task-sorting a "
            f"corpus slice"
        )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    cost_col: str,
    budget: int,
    part_col: str | None = None,
    shards: int | None = None,
    hash_fn: str = "xxhash64",
    max_group_rows: int | None = 50_000_000,
    eager_guard: bool = False,
) -> DataFrame:
    """Sequence packing by running cost offset: rows (docs) are laid out
    in ``id_col`` order and assigned to fixed-``budget`` chunks by their
    exclusive running-cost prefix — ``chunk = floor(offset / budget)``
    where ``offset`` is the total cost of all earlier rows. The training
    shape: pack token-counted documents into context-window-sized bins
    without materializing concatenated text.

    This is offset chunking, not greedy bin packing: a row whose cost
    spans a boundary belongs to the chunk its offset falls in (chunks
    can overrun by at most one row's cost). The contract is chosen for
    determinism — the assignment depends only on (order, costs), never
    on partitioning — and for SQL-expressibility (one window cumsum).

    Scale: ``part_col`` bounds the window sort to one shuffle on the
    partition key; chunks are per-partition. But a partition VALUE can
    itself be corpus-sized (``lang='en'`` at 100 TB is one window
    partition — a single-task sort), so ``shards`` sub-shards each
    group by a stable hash of ``id_col``: chunks become
    per-``(part_col, shard)`` and the sort parallelism scales with
    ``shards``. The assignment stays deterministic (the shard is a pure
    function of the id) and a ``shard`` column is added to the output
    so callers key on it. ``hash_fn="poly"`` makes the shard
    oracle-reproducible. ``max_group_rows`` (default 50M) fails the job
    loudly — a distributed ``assert_true`` reusing the window's own
    sort, no extra shuffle — if any packing group still exceeds it,
    instead of silently serializing a corpus slice through one task;
    pass ``None`` to disable. (The guard rides on the ``chunk``
    expression, so a plan that prunes ``chunk`` away skips it — but a
    plan that never reads ``chunk`` also never pays the window.)
    ``eager_guard=True`` closes that pruning hole for callers who want
    the check regardless of what downstream reads: it runs one cheap
    count-per-group aggregate NOW (a fraction of the packing window's
    own exchange) and raises driver-side, naming the offending group,
    before any window work is scheduled.

    ``id_col`` must be unique within each partition group: the frame is
    ROWS-based (the default RANGE frame would make duplicate ids peers
    and fold their costs into each other's "exclusive" offsets), so
    with duplicate ids the relative order of the tied rows — and their
    chunk assignment — would be partition-dependent.
    """
    keys = [part_col] if part_col else []
    if shards is not None:
        df = df.withColumn(
            "shard", _shard(F.col(id_col), shards, hash_fn).cast("long")
        )
        keys.append("shard")
    if eager_guard and max_group_rows is not None:
        _eager_group_guard(df, keys, max_group_rows, "pack_sequences")
    w = (
        Window.partitionBy(*keys)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum(cost_col).over(w) - F.col(cost_col)
    chunk = F.floor(offset / F.lit(float(budget))).cast("long")
    if max_group_rows is not None:
        # Same partition keys, whole-partition frame: shares the
        # window exchange+sort; assert_true returns null on success so
        # the when() passes chunk through untouched.
        gw = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
        gcnt = F.count(F.lit(1)).over(
            gw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        chunk = F.when(
            F.assert_true(
                gcnt <= F.lit(int(max_group_rows)),
                F.lit(
                    f"pack_sequences: a packing group exceeds "
                    f"max_group_rows={max_group_rows} — raise `shards` "
                    f"(or max_group_rows) instead of single-task-sorting "
                    f"a corpus slice"
                ),
            ).isNull(),
            chunk,
        )
    return df.withColumn("chunk", chunk)


def pack_layout(
    df: DataFrame,
    id_col: str,
    cost_col: str,
    budget: int,
    part_col: str | None = None,
    shards: int | None = None,
    hash_fn: str = "xxhash64",
    max_group_rows: int | None = 50_000_000,
    eager_guard: bool = False,
) -> DataFrame:
    """The packed-batch MANIFEST a training loader consumes: one row
    per document with its chunk assignment AND its within-chunk
    ``start`` offset — exactly what's needed to lay token spans into
    fixed-``budget`` sequences and build the block-diagonal attention
    mask without re-deriving anything at load time.

    Same contract as :func:`pack_sequences` — ``chunk`` is computed by
    the identical formula and ``start`` is pure arithmetic on the same
    running cost (``offset − chunk·budget``), so the two window
    expressions dedup into ONE Window node (single exchange + sort;
    plan-asserted in pytest): deterministic in (order, costs),
    partition-independent, sharded the same way, same loud-fail
    ``max_group_rows`` guard. A boundary-spanning row keeps ``start <
    budget`` but may have ``start + cost_col > budget`` (the documented
    overrun-by-one-row of offset chunking).
    """
    keys = [part_col] if part_col else []
    if shards is not None:
        df = df.withColumn(
            "shard", _shard(F.col(id_col), shards, hash_fn).cast("long")
        )
        keys.append("shard")
    if eager_guard and max_group_rows is not None:
        _eager_group_guard(df, keys, max_group_rows, "pack_layout")
    w = (
        Window.partitionBy(*keys)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum(cost_col).over(w) - F.col(cost_col)
    chunk = F.floor(offset / F.lit(float(budget))).cast("long")
    start = (offset - chunk * F.lit(int(budget))).cast("long")
    if max_group_rows is not None:
        gw = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
        gcnt = F.count(F.lit(1)).over(
            gw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        chunk = F.when(
            F.assert_true(
                gcnt <= F.lit(int(max_group_rows)),
                F.lit(
                    f"pack_layout: a packing group exceeds "
                    f"max_group_rows={max_group_rows} — raise `shards` "
                    f"(or max_group_rows) instead of single-task-sorting "
                    f"a corpus slice"
                ),
            ).isNull(),
            chunk,
        )
    return df.withColumn("chunk", chunk).withColumn("start", start)


def split_by_group(
    df: DataFrame,
    group_col: str,
    holdout_fraction: float = 0.01,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Leakage-safe (train, holdout) split: WHOLE groups (domain, source,
    site) land on one side, so near-duplicates and templated pages from
    the same origin can never straddle the boundary — the standard
    guard against train/eval contamination that a row-level split
    cannot give.

    Scale: pure column predicate on the group key's hash — no shuffle,
    no group materialization; pushed to the scan.
    """
    b = _bucket(F.col(group_col), salt, hash_fn)
    cut = int(holdout_fraction * _BUCKETS)
    return df.filter(b >= cut), df.filter(b < cut)


def mix_to_budget(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    cost_col: str,
    weights: dict[str, float],
    budget: float,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Sample a training mixture to a token budget: stratum ``s`` with
    target weight ``w_s`` (normalized over the provided weights) should
    contribute ``≈ budget × w_s`` total ``cost_col`` (tokens); its rows
    are kept with fraction ``min(1, budget·w_s / tokens_s)`` — an
    under-resourced stratum is kept whole (never oversampled; repeat
    epochs handle up-weighting). Strata absent from ``weights`` are
    dropped.

    Scale: one tiny per-stratum cost aggregate → broadcast per-stratum
    cut → keyed-hash row filter; the corpus is never shuffled. Same
    cross-engine determinism contract as :func:`temperature_sample`
    (threshold rounded to 6 decimals before the integer-bucket cut).
    """
    total_w = sum(weights.values())
    wmap = F.create_map(
        *[F.lit(x) for k, w in sorted(weights.items()) for x in (k, w / total_w)]
    )
    stats = (
        df.groupBy(stratum_col)
        .agg(F.sum(cost_col).alias("__tok"))
        .withColumn("__w", wmap[F.col(stratum_col)])
        .filter(F.col("__w").isNotNull())
    )
    frac = F.least(
        F.lit(1.0), F.lit(float(budget)) * F.col("__w") / F.col("__tok")
    )
    cuts = stats.select(
        stratum_col,
        F.floor(F.round(frac * _BUCKETS, 6)).cast("long").alias("__cut"),
    )
    return (
        df.join(F.broadcast(cuts), stratum_col)
        .filter(_bucket(F.col(key_col), salt, hash_fn) < F.col("__cut"))
        .drop("__cut")
    )


def percentile_gate(
    df: DataFrame,
    score_col: str,
    id_col: str,
    part_col: str,
    drop_fraction: float,
) -> DataFrame:
    """Quality gate by exact per-group percentile: drop the bottom
    ``drop_fraction`` of each group ranked by ``(score, id)`` — the
    "keep everything above the Nth percentile of the quality score"
    filter, with a deterministic tie order so the cut is reproducible
    across runs and engines.

    Scale: one shuffle on the group key (rank + group-size windows share
    it) — same shape and same skew caveat as
    :func:`stratified_sample_exact`.
    """
    w_rank = Window.partitionBy(part_col).orderBy(
        F.col(score_col), F.col(id_col)
    )
    w_size = Window.partitionBy(part_col)
    return (
        df.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_size))
        .filter(
            F.col("__rn") > F.floor(F.col("__n") * F.lit(float(drop_fraction)))
        )
        .drop("__rn", "__n")
    )


def ares_key(
    key_col: str, weight_col: str, salt: int, hash_fn: str
):
    """The Efraimidis–Spirakis A-Res reservoir key ``ln(u) / w`` with
    ``u ∈ (0, 1]`` from a keyed hash of the row id — shared by
    :func:`weighted_sample`, :func:`weighted_sample_per_group`, and the
    streaming ``maintained_weighted_sample`` fold, which must agree
    bit-for-bit for the maintained sample to equal the batch draw.

    ``ln(u)/w`` is the monotone log form of the textbook ``u^(1/w)``
    (one transcendental, no pow); keys are half-up 9dp with the id as
    tie-break downstream so cross-engine libm last-ulp differences
    cannot reorder the cut. Because ``u`` derives from the id hash —
    never ``rand()`` — the top-n cut is a pure function of the input
    SET: reproducible across runs, partitionings, engines, and tick
    boundaries (the merge-exactness that makes the maintained fold an
    exact merge, same device as the quantile sketch's hash levels).
    """
    from kamu_engine_datafusion_spark.functions.columns import (
        _MERSENNE_31,
        half_up,
        poly_hash31,
    )

    key = F.col(key_col)
    if hash_fn == "poly":
        h = poly_hash31(F.concat(key.cast("string"), F.lit(f"#{salt}")))
    else:
        h = F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(_MERSENNE_31))
    u = (h + 1) / F.lit(float(_MERSENNE_31 + 1))
    w = F.col(weight_col).cast("double")
    # half-up, not the engines' round(): exact .5 halves disagree
    # between Spark and DuckDB and this IS a rank sort key
    return half_up(F.log(u) / w, 9)


def ares_top_n(
    df: DataFrame, group_col: str, n: int, key_col: str
) -> DataFrame:
    """The ``n`` rows with the highest A-Res key ``__akey``
    (:func:`ares_key`) per ``group_col``, ties broken by ``key_col``:
    the per-group reservoir cut that :func:`weighted_sample_per_group`,
    the streaming ``maintained_weighted_sample`` fold and its registry
    replay share. Because the key is a pure function of the row id,
    ``top_n(A ∪ B) == top_n(top_n(A) ∪ B)``, so folding ticks through it
    is exact.

    Keep the rank filter in the ``row_number().over(...) <= n`` form:
    it is the shape Catalyst's Partial ``WindowGroupLimit`` recognizes
    (see :func:`cap_per_group`), so a hot group ships at most ``n``
    rows per upstream partition."""
    rank_w = Window.partitionBy(group_col).orderBy(
        F.col("__akey").desc(), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    key_col: str = "doc_id",
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (the
    Efraimidis–Spirakis A-Res scheme): each row gets the key
    ``ln(u) / w`` from a keyed-hash uniform ``u ∈ (0, 1]`` and its
    weight ``w``; the top ``n`` keys ARE a weighted sample — inclusion
    probability rises with ``w``, and the whole draw is reproducible
    from (key column, salt) alone, independent of partitioning.

    ``ln(u)/w`` is the monotone log form of the textbook ``u^(1/w)``
    (one transcendental, no pow); keys are rounded to 9dp with the id
    as tie-break so cross-engine libm last-ulp differences cannot
    reorder the cut.

    Rows with ``w <= 0`` or null are excluded (zero weight = never
    sampled). Scale: a single corpus scan into TakeOrderedAndProject —
    no shuffle, no per-group state; the reservoir IS the top-n heap.
    """
    w = F.col(weight_col).cast("double")
    res_key = ares_key(key_col, weight_col, salt, hash_fn)
    return (
        df.filter(w > 0)
        .withColumn("__akey", res_key)
        .orderBy(F.col("__akey").desc(), F.col(key_col))
        .limit(n)
        .drop("__akey")
    )


def upsample_repeat(
    df: DataFrame,
    key_col: str,
    repeats: dict[str, float] | float,
    stratum_col: str | None = None,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Fractional deterministic upsampling — the epoch-mixing side of
    data curation (a source weighted 2.4 epochs = every doc twice, a
    keyed-hash-chosen 40% of docs a third time). Emits each row
    ``floor(r)`` times plus one extra copy iff the row's keyed-hash
    bucket falls under ``frac(r)``, with an ``epoch`` column (0-based
    copy index) so downstream shuffling can salt per epoch.

    ``repeats`` is a per-stratum dict (requires ``stratum_col``;
    unlisted strata default to 1.0) or a single float for the whole
    corpus. The choice of WHICH rows get the fractional extra copy is
    keyed on (key, salt) — reproducible across runs, partitionings,
    and engines, never ``rand()``.

    Scale: pure in-row explode of a computed integer range — zero
    shuffles, no state; the output is exactly ``Σ n_i`` rows. Rows
    with ``r <= 0`` for their stratum are dropped (repeat 0 = excluded).
    """
    if isinstance(repeats, dict):
        if stratum_col is None:
            raise ValueError("stratum_col required with per-stratum repeats")
        r_expr = F.lit(1.0)
        for stratum, r in sorted(repeats.items()):
            r_expr = F.when(
                F.col(stratum_col) == stratum, F.lit(float(r))
            ).otherwise(r_expr)
    else:
        r_expr = F.lit(float(repeats))
    base = F.floor(r_expr).cast("long")
    frac_cut = F.floor((r_expr - F.floor(r_expr)) * _BUCKETS).cast("long")
    n = base + (
        _bucket(F.col(key_col), salt, hash_fn) < frac_cut
    ).cast("long")
    copies = F.when(n > 0, F.sequence(F.lit(0), (n - 1).cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    return df.select("*", F.explode(copies).alias("__epoch")).select(
        *df.columns, F.col("__epoch").cast("long").alias("epoch")
    )


def length_buckets(
    df: DataFrame,
    cost_col: str,
    boundaries: list[int],
) -> DataFrame:
    """Length-bucketed batching assignment: rows are binned by
    ``cost_col`` (token count) against explicit ascending
    ``boundaries`` — bucket ``i`` holds ``boundaries[i-1] <= cost <
    boundaries[i]``, bucket 0 everything below the first boundary,
    bucket ``len(boundaries)`` everything at or above the last. The
    training-data shape: group similar-length sequences so per-batch
    padding waste is bounded by the bucket width (dynamic batching /
    bucketed bucketing in seq2seq training).

    Appends ``bucket`` (long) plus the bucket's ``bucket_lo``
    (inclusive) and ``bucket_hi`` (exclusive, null for the open top
    bucket). Pure chained comparisons on a scanned column — zero
    shuffle, fully pushed-down; aggregate downstream for per-bucket
    batch stats. Null costs get a null bucket.
    """
    if sorted(boundaries) != list(boundaries) or len(set(boundaries)) != len(
        boundaries
    ):
        raise ValueError("boundaries must be strictly ascending")
    c = F.col(cost_col)
    bucket = F.lit(len(boundaries)).cast("long")
    for i in range(len(boundaries) - 1, -1, -1):
        bucket = F.when(c < boundaries[i], F.lit(i).cast("long")).otherwise(
            bucket
        )
    bucket = F.when(c.isNull(), F.lit(None).cast("long")).otherwise(bucket)
    los = [0] + list(boundaries)
    his = list(boundaries) + [None]
    b = F.col("bucket")
    lo = F.lit(None).cast("long")
    hi = F.lit(None).cast("long")
    for i in range(len(los) - 1, -1, -1):
        lo = F.when(b == i, F.lit(los[i]).cast("long")).otherwise(lo)
        hi = F.when(b == i, F.lit(his[i]).cast("long")).otherwise(hi)
    return (
        df.withColumn("bucket", bucket)
        .withColumn("bucket_lo", lo)
        .withColumn("bucket_hi", hi)
    )


def assign_group_ranks_distributed(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str,
    _release_prior: bool = True,
) -> DataFrame:
    """Dense 0-based rank within each group in ``order_cols`` order,
    with NO window functions — the per-group generalization of the A13
    two-pass offset assignment (``system_columns.py::
    assign_offsets_distributed``), for when ``Window.partitionBy(group)``
    would funnel a dominant group through a single task (the
    90%-weight-source skew in mixture scheduling).

    Shape: range-partition + local sort on ``(group, order)`` — groups
    span contiguous partitions, rows of a group are contiguous within
    each partition — then (1) one tiny per-(partition, group) stats job
    (count + first local index; O(partitions + groups) rows because
    range partitioning keeps ≤ a few groups per partition), (2)
    driver-side cumulative bases per group in partition order, (3)
    broadcast the stats table back and compute ``base + (local_index -
    first_local_index)``. One shuffle (the range exchange), zero sorts
    beyond the local ones, zero windows; the heaviest group parallelizes
    across however many partitions its range spans.

    The input is persisted before the stats pass (the two passes must
    observe one physical partitioning — range boundaries are sampled);
    the persist rides the shared offset/rank ledger
    ``system_columns.OFFSET_LEDGER``, released at the next distributed
    offset/rank call.
    """
    from kamu_engine_datafusion_spark.operators.system_columns import (
        _MID_INDEX_MASK,
        _MID_PARTITION_SHIFT,
        OFFSET_LEDGER,
    )

    if _release_prior:
        OFFSET_LEDGER.release()
    ordered = df.repartitionByRange(
        *group_cols, *order_cols
    ).sortWithinPartitions(*group_cols, *order_cols)
    with_mid = OFFSET_LEDGER.persist(
        ordered.withColumn("__gr_mid", F.monotonically_increasing_id())
    )
    pid = F.shiftright(F.col("__gr_mid"), _MID_PARTITION_SHIFT)
    idx = F.col("__gr_mid").bitwiseAND(F.lit(_MID_INDEX_MASK))
    stats = (
        with_mid.select(
            pid.alias("__gr_pid"), idx.alias("__gr_idx"), *group_cols
        )
        .groupBy("__gr_pid", *group_cols)
        .agg(
            F.count(F.lit(1)).alias("__gr_cnt"),
            F.min("__gr_idx").alias("__gr_first"),
        )
        .collect()
    )
    if not stats:
        return with_mid.withColumn(
            out_col, F.lit(0).cast("long")
        ).drop("__gr_mid")
    acc: dict[tuple, int] = {}
    rows = []
    for row in sorted(stats, key=lambda r: r["__gr_pid"]):
        g = tuple(row[c] for c in group_cols)
        rows.append(
            (int(row["__gr_pid"]), *g, acc.get(g, 0), int(row["__gr_first"]))
        )
        acc[g] = acc.get(g, 0) + int(row["__gr_cnt"])
    from pyspark.sql import types as T

    spark = with_mid.sparkSession
    schema = T.StructType(
        [T.StructField("__gr_pid", T.LongType())]
        + [df.schema[c] for c in group_cols]
        + [
            T.StructField("__gr_base", T.LongType()),
            T.StructField("__gr_first", T.LongType()),
        ]
    )
    stats_df = spark.createDataFrame(rows, schema)
    left = with_mid.withColumn("__gr_pid", pid).alias("l")
    right = F.broadcast(stats_df).alias("r")
    cond = F.col("l.__gr_pid") == F.col("r.__gr_pid")
    for c in group_cols:  # eqNullSafe: a null group key is still a group
        cond = cond & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
    l_idx = F.col("l.__gr_mid").bitwiseAND(F.lit(_MID_INDEX_MASK))
    return left.join(right, cond).select(
        *[F.col(f"l.{c}") for c in df.columns],
        (F.col("r.__gr_base") + l_idx - F.col("r.__gr_first"))
        .cast("long")
        .alias(out_col),
    )


def interleave_sources(
    df: DataFrame,
    key_col: str,
    source_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    salt: int = 0,
    hash_fn: str = "xxhash64",
    mode: str = "serial",
) -> DataFrame:
    """Deterministic mixture SCHEDULING: produce the global training
    ORDER in which weighted sources interleave proportionally — stride
    scheduling (weight 3 : 1 ⇒ roughly s1 s1 s1 s2 s1 s1 s1 s2 …),
    the standard way to serve a data mixture without bucketing the
    corpus into epochs first.

    Each row gets a deterministic per-source position ``r`` (keyed-hash
    order — a fresh permutation per ``salt``), then the classic stride
    key ``(r + 0.5) / weight``; the global order sorts by it. A source
    with twice the weight appears twice as often in any prefix (±1) —
    the property that makes streamed training see the target mixture
    from step one, not only in expectation over a full epoch.

    Returns the input plus ``interleave_rank`` (0-based global order).
    Sources with weight ≤ 0 are dropped.

    ``mode="serial"`` — the window form (one per-source window + one
    global partitionBy-less window): exact, oracle-checkable, right for
    bounded inputs and the cross-engine parity twin. ``mode=
    "distributed"`` — BIT-IDENTICAL output with no windows at all: the
    per-source rank comes from :func:`assign_group_ranks_distributed`
    (so a 90%-weight source spreads over its range span instead of
    funneling into one task) and the global order from a
    ``repartitionByRange`` on the stride key + the A13 two-pass offset
    assignment — the TeraSort shape; nothing serializes through a
    single partition. Use it whenever materializing a full-corpus
    training order. (The identity holds because the serial stride
    ``(row_number() - 0.5)/w`` equals the distributed ``(rank0 +
    0.5)/w`` exactly in float64 — ranks are well under 2^52.)
    """
    w_expr = F.lit(float(default_weight))
    for s, wt in sorted(weights.items()):
        w_expr = F.when(F.col(source_col) == s, F.lit(float(wt))).otherwise(
            w_expr
        )
    b = _bucket(F.col(key_col), salt, hash_fn)
    out = df.withColumn("__w", w_expr).filter(F.col("__w") > 0)
    if mode == "serial":
        per_source = Window.partitionBy(source_col).orderBy(b, F.col(key_col))
        r = F.row_number().over(per_source).cast("double")
        out = out.withColumn("__stride", (r - 0.5) / w_expr)
        # BOUNDED-WINDOW CLASS: serial mode's documented small-input
        # path — the distributed mode shards this global order.
        glob = Window.orderBy(
            F.col("__stride"), F.col(source_col), F.col(key_col)
        )
        return (
            out.withColumn(
                "interleave_rank", (F.row_number().over(glob) - 1).cast("long")
            )
            .drop("__w", "__stride")
        )
    from kamu_engine_datafusion_spark.operators.system_columns import (
        assign_offsets_distributed,
    )

    out = out.withColumn("__b", b)
    ranked = assign_group_ranks_distributed(
        out, [source_col], ["__b", key_col], "__r0"
    )
    strided = ranked.withColumn(
        "__stride", (F.col("__r0").cast("double") + 0.5) / F.col("__w")
    )
    ordered = strided.repartitionByRange(
        "__stride", source_col, key_col
    ).sortWithinPartitions("__stride", source_col, key_col)
    # _release_prior=False: the offset pass's plan still reads the rank
    # stage's persist — both ride the ledger until the next pipeline
    return assign_offsets_distributed(
        ordered, "interleave_rank", 0, _release_prior=False
    ).drop("__w", "__b", "__r0", "__stride")


def weighted_sample_per_group(
    df: DataFrame,
    weight_col: str,
    group_col: str,
    n: int,
    key_col: str = "doc_id",
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, PER GROUP —
    the per-domain/per-source form of :func:`weighted_sample` (same
    Efraimidis–Spirakis A-Res keys, same reproducibility contract):
    keep the top ``n`` reservoir keys within each ``group_col`` value,
    so every domain contributes a quality-weighted sample instead of
    the global draw being swallowed by the heaviest domain.

    Scale: one shuffle on the group key; the ``row_number ≤ n`` rank
    filter triggers Catalyst's map-side Partial ``WindowGroupLimit``
    exactly as in :func:`cap_per_group` (see its docstring and the
    SCALE.md r9 measurement), so a hot group ships ≤ ``n`` rows per
    upstream partition. Rows with ``w <= 0`` or null are excluded.
    """
    w = F.col(weight_col).cast("double")
    keyed = df.filter(w > 0).withColumn(
        "__akey", ares_key(key_col, weight_col, salt, hash_fn)
    )
    return ares_top_n(keyed, group_col, n, key_col).drop("__akey")


def pack_sequences_ffd(
    df: DataFrame,
    id_col: str,
    cost_col: str,
    budget: int,
    part_col: str,
    shards: int | None = None,
    hash_fn: str = "xxhash64",
    max_group_rows: int = 5_000_000,
    eager_guard: bool = False,
) -> DataFrame:
    """Sequence packing by FIRST-FIT DECREASING: within each
    ``part_col`` group, rows are sorted by (cost desc, id) and each is
    placed into the lowest-numbered chunk with room — the classic bin
    packing heuristic (≤ 11/9·OPT + 1 bins), which unlike
    :func:`pack_sequences`'s offset chunking never overruns ``budget``
    and wastes less padding on heavy-tailed length distributions.
    Rows with ``cost > budget`` get chunk −1 (unpackable — filter or
    truncate upstream; silently overrunning would corrupt the batch).

    Deterministic: the fold order is a pure function of (cost, id), so
    the assignment is partition-independent (pytest-pinned).

    Scale: one shuffle on the group key; the per-group fold runs as an
    Arrow-batched ``applyInPandas`` (the sequential first-fit scan is
    inherently a fold — not expressible as window algebra). Cost is
    O(n·bins) per group worst case — and a single ``part_col`` value
    can be corpus-sized (``lang='en'`` at 100 TB would be ONE pandas
    group: driver-killing), so ``shards`` sub-shards each group by a
    stable hash of ``id_col`` and folds per ``(part_col, shard)``:
    FFD's capacity bound (chunks never exceed ``budget``) holds per
    shard, determinism is preserved (the shard is a pure function of
    the id), and the extra padding from packing shards independently is
    O(shards) bins — negligible against millions of bins. A ``shard``
    column is added to the output. ``max_group_rows`` fails the fold
    loudly (inside the executor, before any O(n·bins) work) if a group
    still exceeds it — the guard against ``shards`` sized wrongly or
    omitted on a corpus-scale group. Output: input columns
    [+ ``shard``] + ``chunk``.
    """
    import pandas as pd

    from pyspark.sql import types as T

    group_keys = [part_col]
    if shards is not None:
        df = df.withColumn(
            "shard", _shard(F.col(id_col), shards, hash_fn).cast("long")
        )
        group_keys.append("shard")
    if eager_guard:
        _eager_group_guard(
            df, group_keys, max_group_rows, "pack_sequences_ffd"
        )
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("chunk", T.LongType())]
    )
    b = int(budget)
    max_rows = int(max_group_rows)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_rows:
            raise ValueError(
                f"pack_sequences_ffd: a packing group has {len(pdf)} rows "
                f"> max_group_rows={max_rows} — raise `shards` (or "
                f"max_group_rows) instead of folding a corpus slice in "
                f"one pandas group"
            )
        pdf = pdf.sort_values(
            [cost_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        loads: list[int] = []
        chunks: list[int] = []
        for c in pdf[cost_col]:
            c = int(c)
            if c > b:
                chunks.append(-1)
                continue
            for i, ld in enumerate(loads):
                if ld + c <= b:
                    loads[i] = ld + c
                    chunks.append(i)
                    break
            else:
                loads.append(c)
                chunks.append(len(loads) - 1)
        pdf["chunk"] = pd.Series(chunks, dtype="int64")
        return pdf

    return df.groupBy(*group_keys).applyInPandas(fold, out_schema)


def _dsir_toks(c: Column) -> Column:
    return F.split(F.trim(F.lower(c)), r"\s+")


def _dsir_bigrams(c: Column) -> Column:
    # zip_with of two slices, NOT transform+element_at(t, i+2): a
    # lambda that references the outer token array re-evaluates the
    # split per ELEMENT (no CSE inside interpreted HOFs) — O(n²)
    # per doc, measured 10× slower on a 50k-doc corpus (SCALE.md
    # r9). zip_with's lambda touches only its own element vars.
    t = _dsir_toks(c)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    return F.zip_with(
        F.slice(t, 1, n1),
        F.slice(t, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def _dsir_bucket(c: Column, buckets: int, hash_fn: str) -> Column:
    from kamu_engine_datafusion_spark.functions.columns import poly_hash31

    if hash_fn == "poly":
        return F.pmod(poly_hash31(c), F.lit(buckets))
    return F.pmod(F.xxhash64(c), F.lit(buckets))


def dsir_bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = 512,
    hash_fn: str = "poly",
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Hashed-bigram bucket counts ``(b, c)`` — the DSIR model-building
    aggregate as a FRAME: the per-tick INCREMENT of
    ``streaming.maintained_dsir_stats`` (counts are additive, so the
    cross-tick fold is exact) and the input of
    :func:`dsir_scores_from_stats`. Bounded at ≤ ``buckets`` rows by
    construction (partial counts cap the exchange).

    ``extra_group_cols`` (r18): extra count keys (e.g. a tick id) —
    buckets are per-occurrence, so the (extra, b)-keyed counts sliced
    on the extra column are BIT-IDENTICAL to counting each slice
    separately, at ONE scan instead of one per slice (guide §2.3)."""
    eg = [F.col(c) for c in extra_group_cols]
    if hash_fn == "poly":
        # vectorized kernel: per-doc bucket arrays (bit-exact poly31
        # bigram buckets), exploding LONGS instead of bigram STRINGS —
        # the poly char fold otherwise runs interpreted per exploded
        # bigram
        from kamu_engine_datafusion_spark.functions.arrow_hash import (
            dsir_bucket_udf,
        )

        exploded = df.select(
            *eg,
            F.explode(dsir_bucket_udf(buckets)(F.col(text_col))).alias("b"),
        )
    else:
        exploded = _dsir_bucket_fold(df, text_col, buckets, hash_fn, eg)
    return exploded.groupBy(*extra_group_cols, "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def _dsir_bucket_fold(
    df: DataFrame, text_col: str, buckets: int, hash_fn: str, eg=()
) -> DataFrame:
    """One ``(*eg, b)`` row per bigram occurrence via the
    SQL-replayable HOF fold — the :func:`dsir_bucket_counts` scan for
    the xxhash64 profile (codegen-native)."""
    return df.select(
        *eg, F.explode(_dsir_bigrams(F.col(text_col))).alias("__ng")
    ).select(*eg, _dsir_bucket(F.col("__ng"), buckets, hash_fn).alias("b"))


def _dsir_lr_ints(ct: dict, cr: dict, buckets: int, lam: float) -> list[int]:
    """The 1e-9 fixed-point per-bucket log-ratio ``ln p(b) − ln q(b)``
    of the add-``lam`` smoothed target (``ct``) and raw (``cr``)
    bucket-count models, snapped half-up."""
    import math

    tt = float(sum(ct.values()))
    tr = float(sum(cr.values()))
    lb = lam * buckets
    lr_ints = []
    for b in range(buckets):
        x = math.log((ct.get(b, 0) + lam) / (tt + lb)) - math.log(
            (cr.get(b, 0) + lam) / (tr + lb)
        )
        lr_ints.append(int(math.floor(x * 1e9 + 0.5)))
    return lr_ints


def _dsir_score_fold(
    text: Column, lr_ints: list[int], buckets: int, hash_fn: str
) -> Column:
    """Per-doc ``Σ lr[bucket(bigram)]`` via the SQL-replayable HOF
    fold — the scoring scan for the xxhash64 profile. NULL for NULL
    text."""
    arr = F.array(*[F.lit(v).cast("long") for v in lr_ints])
    return F.aggregate(
        _dsir_bigrams(text),
        F.lit(0).cast("long"),
        lambda acc, ng: acc
        + F.element_at(
            arr, (_dsir_bucket(ng, buckets, hash_fn) + F.lit(1)).cast("int")
        ),
    )


def _dsir_score_with_counts(
    df: DataFrame,
    ct: dict,
    cr: dict,
    text_col: str,
    buckets: int,
    lam: float,
    hash_fn: str,
) -> DataFrame:
    """Shared scoring stage of :func:`dsir_scores` and
    :func:`dsir_scores_from_stats`: build the 1e-9 fixed-point
    log-ratio literal array from the two bucket-count dicts and fold
    it over each doc's hashed bigrams in-row at scan speed."""
    lr_ints = _dsir_lr_ints(ct, cr, buckets, lam)
    # NULL text must score 0, not NULL: the fold/kernel yields NULL for
    # NULL text, which would both diverge from the oracle's
    # COALESCE(score, 0) and null out the Gumbel key (dropping the doc
    # from the draw entirely instead of ranking it at weight e^0).
    if hash_fn == "poly":
        # vectorized scoring kernel: the per-doc Σ lr[bucket(bigram)]
        # fold is otherwise an interpreted HOF re-running the poly
        # char fold per bigram — bit-exact int64 sums
        from kamu_engine_datafusion_spark.functions.arrow_hash import (
            dsir_score_udf,
        )

        raw_score = dsir_score_udf(lr_ints, buckets)(F.col(text_col))
    else:
        raw_score = _dsir_score_fold(
            F.col(text_col), lr_ints, buckets, hash_fn
        )
    score = F.coalesce(raw_score, F.lit(0).cast("long"))
    return df.withColumn("dsir_score", score)


def dsir_scores_from_stats(
    df: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    text_col: str = "text",
    buckets: int = 512,
    lam: float = 0.5,
    hash_fn: str = "poly",
) -> DataFrame:
    """DSIR importance scoring against PRE-AGGREGATED bucket-count
    frames (:func:`dsir_bucket_counts` output, or
    ``streaming.maintained_dsir_stats`` state) — the incremental form
    :func:`dsir_scores` can't offer: at 100 TB the raw-corpus model
    ``q`` re-counts ALL history every scoring run, while the
    maintained counts fold forward tick by tick and scoring a new
    tick touches only the tick's own bigrams. Scores are IDENTICAL to
    the batch operator over the same populations (the count tables
    are exact integer folds and the log-ratio snap is the same 1e-9
    fixed-point — pytest-pinned).

    Both count frames are ≤ ``buckets`` rows by construction and ride
    to the driver as bounded broadcast DATA (the 22× rule —
    documented bounded-collect class)."""
    ct = {int(r["b"]): int(r["c"]) for r in target_counts.collect()}
    cr = {int(r["b"]): int(r["c"]) for r in raw_counts.collect()}
    return _dsir_score_with_counts(
        df, ct, cr, text_col, buckets, lam, hash_fn
    )


def dsir_scores(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    buckets: int = 512,
    lam: float = 0.5,
    hash_fn: str = "poly",
) -> DataFrame:
    """DSIR importance SCORING (Xie et al. 2023, public): append a
    ``dsir_score`` column — the 1e-9 fixed-point hashed-bigram log
    importance weight ``Σ_ngram [ln p(b) − ln q(b)]`` of each raw doc
    under add-``lam`` smoothed bag-of-hashed-bigram models of the
    TARGET corpus (``p``) vs the raw corpus (``q``). NULL/empty text
    scores 0 (weight e⁰ = 1), matching the oracle's COALESCE.

    Shared scoring stage of :func:`dsir_sample` (Gumbel top-k
    selection) and :func:`dsir_diagnostics` (ESS / concentration).

    Cross-engine determinism: per-bucket log-ratios are snapped to
    1e-9 FIXED-POINT integers (half-up), so per-doc scores are exact
    integer sums — order-independent, no float-tail divergence; an
    oracle reproduces them bit-for-bit from the same poly hashes.

    Scale: two bounded bucket-count aggregates (≤ ``buckets`` rows
    each, collected — bounded by construction) build a literal
    log-ratio array; scoring is then an in-row fold at scan speed —
    no corpus shuffle, no join. For the incremental form (count
    tables folded forward instead of re-aggregated) see
    :func:`dsir_scores_from_stats`.
    """

    def _counts(d: DataFrame) -> dict:
        return {
            int(r["b"]): int(r["c"])
            for r in dsir_bucket_counts(
                d, text_col, buckets, hash_fn
            ).collect()
        }

    return _dsir_score_with_counts(
        df, _counts(target), _counts(df), text_col, buckets, lam, hash_fn
    )


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 512,
    lam: float = 0.5,
    salt: int = 0,
    hash_fn: str = "poly",
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, public): pick
    the ``n`` raw-corpus documents that look most like a TARGET domain,
    by hashed-bigram importance weights — the standard data-selection
    operator for steering a pretraining mix toward a quality/domain
    slice without training a classifier.

    Scoring is :func:`dsir_scores`; selection is Gumbel top-k over
    ``score + g(u)`` with a keyed-uniform ``u`` — i.e. sampling without
    replacement ∝ the importance weight, reproducible across runs,
    engines, and partitionings. The Gumbel term is snapped to the same
    1e-9 fixed-point integers as the scores, so an oracle reproduces
    the exact draw. ``dsir_score`` is the fixed-point log-weight
    (divide by 1e9 for nats). Selection is a TakeOrdered top-n — no
    corpus shuffle.
    """
    from kamu_engine_datafusion_spark.functions.columns import (
        _MERSENNE_31,
        poly_hash31,
    )

    scored = dsir_scores(
        df, target, text_col=text_col, buckets=buckets, lam=lam,
        hash_fn=hash_fn,
    )
    key = F.col(id_col)
    if hash_fn == "poly":
        h = poly_hash31(F.concat(key.cast("string"), F.lit(f"#{salt}")))
    else:
        h = F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(_MERSENNE_31))
    u = (h + 1) / F.lit(float(_MERSENNE_31 + 2))
    g_int = F.floor(-F.log(-F.log(u)) * F.lit(1e9) + F.lit(0.5)).cast("long")

    return (
        scored.withColumn("__k", F.col("dsir_score") + g_int)
        .orderBy(F.col("__k").desc(), key)
        .limit(n)
        .drop("__k")
    )


def dsir_diagnostics(
    df: DataFrame,
    target: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 512,
    lam: float = 0.5,
    top_k: int = 10,
    hash_fn: str = "poly",
) -> DataFrame:
    """Importance-weight DIAGNOSTICS for a DSIR resampling run — the
    standard sanity check before trusting a resampled mix: per
    ``group_col`` stratum, the effective sample size ``(Σw)²/Σw²`` of
    the importance weights and how concentrated the weight mass is on
    the few highest-scored docs. A stratum whose ESS ratio collapses
    toward 1/n (or whose top-k share → 1) is being represented by a
    handful of documents and the resampled mix is unreliable there.

    Columns per group: ``n_docs``; ``mean_lw`` (mean log-weight, nats,
    half-up 4dp); ``ess`` ((Σw)²/Σw², half-up 2dp); ``ess_ratio``
    (ess/n, half-up 4dp); ``topk_share`` (weight share of the ``top_k``
    highest-scored docs, half-up 4dp, ties broken by ``id_col``).

    Weights are exponentiated relative to each group's max score
    (``w = exp((s − max s)/1e9)``) — ESS and shares are scale-invariant
    so the shift changes nothing while keeping ``exp`` in range. The
    scores themselves are exact fixed-point integers (cross-engine
    bit-equal); the exp/sum tail noise is quashed by the half-up
    rounding.

    Scale: scoring is in-row at scan speed (:func:`dsir_scores`); the
    diagnostics are one group-keyed window + partial+final aggregate.
    """
    scored = dsir_scores(
        df, target, text_col=text_col, buckets=buckets, lam=lam,
        hash_fn=hash_fn,
    )
    g = Window.partitionBy(group_col)
    rnk = Window.partitionBy(group_col).orderBy(
        F.col("dsir_score").desc(), F.col(id_col)
    )
    w = F.exp(
        (F.col("dsir_score") - F.max("dsir_score").over(g)) / F.lit(1e9)
    )
    scored = (
        scored.withColumn("__w", w)
        .withColumn("__rn", F.row_number().over(rnk))
    )

    def _half_up(c: Column, d: int) -> Column:
        return F.floor(c * F.lit(10.0**d) + F.lit(0.5)) / F.lit(10.0**d)

    sum_w = F.sum("__w")
    ess = sum_w * sum_w / F.sum(F.col("__w") * F.col("__w"))
    return scored.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        _half_up(F.sum("dsir_score") / F.count(F.lit(1)) / F.lit(1e9), 4)
        .alias("mean_lw"),
        _half_up(ess, 2).alias("ess"),
        _half_up(ess / F.count(F.lit(1)), 4).alias("ess_ratio"),
        _half_up(
            F.sum(F.when(F.col("__rn") <= top_k, F.col("__w")).otherwise(
                F.lit(0.0)
            ))
            / sum_w,
            4,
        ).alias("topk_share"),
    )


def curriculum_stages(
    df: DataFrame,
    difficulty_col: Column | str,
    n_stages: int = 4,
    part_col: str = "lang",
    id_col: str = "doc_id",
    mode: str = "ntile",
    accuracy: int = 10_000,
) -> DataFrame:
    """Curriculum scheduling: split each ``part_col`` stratum into
    ``n_stages`` equal-count difficulty stages (1 = easiest) — the
    standard easy→hard ordering for curriculum training, stratified so
    every language ramps difficulty on its own scale instead of
    low-resource strata landing entirely in one global stage.

    ``mode="ntile"`` (default, the verifiable profile): appends
    ``stage`` via ``ntile(n_stages)`` over ``(difficulty, id)`` within
    the stratum — exact equal counts, deterministic (unique id
    tiebreak), engine-portable (standard SQL). Cost: one shuffle on the
    stratum key plus a per-stratum SORT — fine while a stratum fits a
    task pipeline, wrong when one language is 30 TB.

    ``mode="quantile"`` (the corpus-scale path): per-stratum stage
    BOUNDARIES via one ``percentile_approx`` aggregate (n_stages − 1
    interior quantiles, Greenwald–Khanna sketch, error ∝ 1/``accuracy``),
    broadcast back, stage assigned IN-ROW as
    ``1 + #{boundaries < difficulty}``. No window, no per-stratum sort —
    the stage column rides the scan and the only exchange is the tiny
    partial+final boundary aggregate, so it survives strata of any
    size. Counts are approximately equal (sketch error + boundary
    ties); difficulty ordering across stages is exact by construction
    (assignment is monotonic in difficulty). Boundary-equal rows go to
    the LOWER stage. Not oracle-hashed (the sketch is engine-specific);
    pinned instead by pytest invariants + a plan test asserting no
    Window/sort node (``tests/test_sampling.py``).
    """
    diff = (
        F.col(difficulty_col)
        if isinstance(difficulty_col, str)
        else difficulty_col
    )
    if mode == "quantile":
        probs = [i / n_stages for i in range(1, n_stages)]
        bounds = df.groupBy(part_col).agg(
            F.percentile_approx(diff, probs, accuracy).alias("__bounds")
        )
        stage = (
            F.lit(1)
            + F.aggregate(
                "__bounds",
                F.lit(0),
                lambda acc, b: acc + F.when(diff > b, 1).otherwise(0),
            )
        ).cast("int")
        return (
            df.join(F.broadcast(bounds), part_col)
            .withColumn("stage", stage)
            .drop("__bounds")
        )
    if mode != "ntile":
        raise ValueError(f"unknown curriculum mode: {mode!r}")
    w = Window.partitionBy(part_col).orderBy(diff.asc(), F.col(id_col).asc())
    return df.withColumn("stage", F.ntile(n_stages).over(w))


def curriculum_from_sketch(
    df: DataFrame,
    sketch: DataFrame,
    difficulty_col: str,
    group_cols: list[str],
    id_col: str,
    n_stages: int = 4,
) -> DataFrame:
    """Curriculum stage assignment against boundaries read from a
    MERGEABLE QUANTILE SKETCH (``operators/sketches.py::
    quantile_sketch`` or the continuously-maintained
    ``streaming.maintained_quantile_sketch`` state) — the incremental,
    ORACLE-HASHABLE form of :func:`curriculum_stages`: ``mode="ntile"``
    needs a per-stratum sort (wrong when one language is 30 TB) and
    ``mode="quantile"`` rides the engine-specific ``percentile_approx``
    (not replayable cross-engine), while the hash-level sketch is a
    deterministic function of the input SET, so BOTH the stage
    boundaries and the assignment are SQL-replayable — the winsorize
    companion (:func:`profile.winsorize_from_sketch`) applied to
    curriculum scheduling.

    Boundaries: the ``n_stages − 1`` interior quantiles of the
    retained rows (integer rank selection over ``(difficulty, id)``
    order — see ``quantile_sketch_estimates``); assignment is in-row
    ``stage = 1 + #{boundaries < difficulty}`` with boundary-equal
    rows going to the LOWER stage (the :func:`curriculum_stages`
    ``mode="quantile"`` convention). Counts per stage are near-equal
    (sketch rank error + boundary ties); difficulty ordering across
    stages is exact by construction.

    A group absent from the sketch (first appearance before the next
    maintained fold) or a NULL difficulty gets stage NULL — loudly
    unscheduled, never silently "easy" (the winsorize family passes
    rows through; a curriculum must not fabricate a schedule it
    doesn't have).

    Scale: one ≤ k-rows-per-group estimate aggregate on the SKETCH,
    broadcast back onto the scan, stage computed in-row — no window,
    no per-stratum sort, no shuffle of the corpus; at 100 TB the
    boundaries come from maintained state, so even the sketch build
    is already paid for.
    """
    from kamu_engine_datafusion_spark.operators.sketches import (
        quantile_sketch_estimates,
    )

    if n_stages < 2:
        raise ValueError(f"n_stages must be >= 2, got {n_stages}")
    cuts = quantile_sketch_estimates(
        sketch,
        group_cols,
        id_col,
        difficulty_col,
        qs=[(i, n_stages) for i in range(1, n_stages)],
    ).select(
        *group_cols,
        *[
            F.col(f"q_{i}_{n_stages}").alias(f"__cut{i}")
            for i in range(1, n_stages)
        ],
    )
    joined = df.join(F.broadcast(cuts), group_cols, "left")
    expr = F.lit(1)
    for i in range(1, n_stages):
        expr = expr + F.when(
            F.col(difficulty_col) > F.col(f"__cut{i}"), 1
        ).otherwise(0)
    stage = F.when(
        F.col(difficulty_col).isNotNull() & F.col("__cut1").isNotNull(),
        expr,
    ).cast("int")
    return joined.withColumn("stage", stage).drop(
        *[f"__cut{i}" for i in range(1, n_stages)]
    )


def packing_efficiency(
    df: DataFrame,
    id_col: str,
    cost_col: str,
    budgets: list[int],
    part_col: str = "lang",
    shards: int = 8,
    hash_fn: str = "poly",
    max_group_rows: int = 50_000_000,
    eager_guard: bool = False,
) -> DataFrame:
    """Packer TUNING curve: for each candidate sequence ``budget``,
    run the running-offset chunk assignment (exactly
    :func:`pack_sequences` semantics, oversize rows excluded) and
    report corpus-level packing efficiency — the fraction of chunk
    capacity actually filled. The knob this answers: which training
    sequence length wastes the least padding on THIS corpus.

    One row per budget: ``budget``, ``n_docs`` (packable), ``n_chunks``,
    ``total_cost``, ``efficiency`` = total_cost / (n_chunks · budget),
    half-up 4dp.

    Scale: per budget, one (part, shard)-keyed window (the
    pack_sequences exchange, parallelism ∝ strata × shards) feeding a
    two-level partial aggregate; budgets are evaluated independently
    and unioned — a handful of passes over the scan, no corpus joins.
    """
    if eager_guard:
        # One conservative pre-count on the UNFILTERED corpus covers
        # every budget pass (each pass packs a cost-filtered subset).
        _eager_group_guard(
            df.withColumn(
                "shard", _shard(F.col(id_col), shards, hash_fn).cast("long")
            ),
            [part_col, "shard"],
            max_group_rows,
            "packing_efficiency",
        )
    rows = []
    for b in budgets:
        d = df.filter(F.col(cost_col) <= F.lit(b))
        packed = pack_sequences(
            d, id_col, cost_col, budget=b, part_col=part_col,
            shards=shards, hash_fn=hash_fn,
        )
        per_chunk = packed.groupBy(part_col, "shard", "chunk").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(cost_col).alias("__cost"),
        )
        rows.append(
            per_chunk.agg(
                F.lit(b).cast("long").alias("budget"),
                F.sum("__n").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_chunks"),
                F.sum("__cost").cast("long").alias("total_cost"),
                (
                    F.floor(
                        F.sum("__cost")
                        / (F.count(F.lit(1)) * F.lit(b))
                        * 10000
                        + F.lit(0.5)
                    )
                    / 10000
                ).alias("efficiency"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    salt: int = 0,
    hash_fn: str = "poly",
    mode: str = "sharded",
    shards: int = 32,
) -> DataFrame:
    """Deterministic NEGATIVE sampling for contrastive training: for
    every anchor row, ``k`` pseudo-random other rows — via the HASH
    RING: order ids by a keyed hash and take each anchor's next ``k``
    ring neighbors (wrap-around). Because the hash is uniform and
    content-independent, ring neighbors are as-if-random negatives,
    yet the pairing is a pure function of (id set, salt): reproducible
    across runs, partitionings, and engines, never ``rand()`` — and
    re-salting gives a fresh independent draw per epoch.

    Output: ``(anchor=id, neg_id, slot 1..k)``. Requires more than
    ``k`` rows per ring (raises otherwise — a smaller corpus cannot
    supply k distinct negatives; in sharded mode each shard's ring
    must clear k, which holds w.h.p. for any real corpus).

    ``mode="serial"``: ONE global ring — exact and shuffle-light but a
    single-partition window (bounded-input use only, the A13 pattern).
    ``mode="sharded"`` (default): ids ring WITHIN each of ``shards``
    hash shards — every window is partitioned, negatives stay uniform
    (shard assignment is itself a hash), and the shuffle is keyed on
    the uniform shard id; the scale path.
    """
    from pyspark.sql import Window

    from kamu_engine_datafusion_spark.functions.columns import (
        _MERSENNE_31,
        poly_hash31,
    )

    key = F.col(id_col)
    if hash_fn == "poly":
        # Two poly31 pitfalls, both order-degeneracies on sequential
        # ids: (a) same-length strings hash monotone in their trailing
        # chars, so the ring would be id order — REVERSE the id string
        # first (most-significant hash terms from least-significant
        # digits); (b) a salt embedded as a char shifts every
        # same-length hash by the same CONSTANT — same order again —
        # so the salt enters as a MULTIPLICATIVE mix mod M31 instead,
        # which permutes residues. (xxhash64 needs none of this.)
        k_salt = (1103515245 * (salt + 1) + 12345) % _MERSENNE_31 or 1
        h = F.pmod(
            poly_hash31(F.reverse(key.cast("string"))) * F.lit(k_salt),
            F.lit(_MERSENNE_31),
        )
    else:
        h = F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(_MERSENNE_31))
    base = df.select(key.alias("anchor"), h.alias("__h"))
    if mode == "serial":
        base = base.withColumn("__shard", F.lit(0))
        # BOUNDED-WINDOW CLASS: serial mode's documented small-input
        # path — sharded mode partitions this window at scale.
        w = Window.orderBy("__h", "anchor")
    elif mode == "sharded":
        base = base.withColumn("__shard", F.pmod(F.col("__h"), F.lit(shards)))
        w = Window.partitionBy("__shard").orderBy("__h", "anchor")
    else:
        raise ValueError(f"unknown mode: {mode!r}")
    ring = base.withColumn("__rn", F.row_number().over(w))
    sizes = ring.groupBy("__shard").agg(F.count(F.lit(1)).alias("__n"))
    too_small = sizes.filter(F.col("__n") <= k).limit(1).collect()
    if too_small:
        raise ValueError(
            f"negative_samples: a ring has <= k={k} members "
            f"(shard {too_small[0]['__shard']}, n={too_small[0]['__n']}); "
            "lower k or shards, or use mode='serial'"
        )
    neighbors = ring.select(
        "__shard",
        F.col("anchor").alias("neg_id"),
        F.col("__rn").alias("__pos"),
    )
    slots = ring.join(F.broadcast(sizes), "__shard").select(
        "anchor",
        "__shard",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(k)),
                lambda i: F.struct(
                    i.cast("long").alias("slot"),
                    (
                        F.pmod(F.col("__rn") - 1 + i, F.col("__n")) + 1
                    ).alias("pos"),
                ),
            )
        ).alias("__s"),
    )
    return (
        slots.select(
            "anchor",
            "__shard",
            F.col("__s.slot").alias("slot"),
            F.col("__s.pos").alias("__pos"),
        )
        .join(neighbors, ["__shard", "__pos"])
        .select("anchor", "neg_id", "slot")
    )


def temperature_cuts_from_counts(
    counts: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
) -> DataFrame:
    """The per-stratum temperature-sampling CUT TABLE read from a
    maintained count frame ALONE (``streaming.maintained_group_counts``
    state, or any ``(stratum, n)`` frame) — exactly
    :func:`temperature_sample`'s cut rule (``share^alpha`` weights,
    target allocation capped at 100%, the same 6dp round before the
    integer-bucket cut; pytest-pinned: cuts-from-state sampling of the
    same corpus equals the batch operator ROW-FOR-ROW, the batch path
    untouched). At 100 TB the batch operator recounts the corpus per
    run; this reads |strata| metadata rows — the training-mix monitor
    a multilingual pipeline keeps live, re-sampling each incoming tick
    with corpus-consistent temperature cuts via
    :func:`sample_with_cuts`."""
    tot = counts.agg(
        F.sum("n").alias("__tot"),
        F.sum(F.pow("n", F.lit(float(alpha)))).alias("__z"),
    )
    frac = F.least(
        F.lit(1.0),
        F.lit(float(target_fraction))
        * F.col("__tot")
        * F.pow("n", F.lit(float(alpha)))
        / F.col("__z")
        / F.col("n"),
    )
    cut = F.floor(F.round(frac * _BUCKETS, 6)).cast("long")
    return counts.crossJoin(F.broadcast(tot)).select(
        stratum_col, cut.alias("__cut")
    )


def sample_with_cuts(
    df: DataFrame,
    cuts: DataFrame,
    key_col: str,
    stratum_col: str,
    salt: int = 0,
    hash_fn: str = "xxhash64",
    default_cut: int | None = None,
) -> DataFrame:
    """Apply a :func:`temperature_cuts_from_counts` cut table to a
    frame — :func:`temperature_sample`'s keyed-hash row filter with
    the cuts SUPPLIED (broadcast |strata| rows; the frame is touched
    once, in-row, never shuffled). With cuts built from the counts of
    the same corpus this equals the batch operator exactly
    (pytest-pinned); in the maintained loop each tick samples against
    the CURRENT folded counts — the corpus-consistent streaming
    semantic of ``dsir_scores_from_stats``, documented rather than
    hidden: cuts evolve as the corpus grows.

    A stratum ABSENT from the cut table (a brand-new language in a
    tick the counts fold has not seen yet) keeps ``default_cut``
    buckets — the default ``None`` means ALL buckets, i.e. unseen
    strata pass at 100%, matching temperature sampling's intent of
    upholding tiny strata (an inner join would silently drop exactly
    the rows the alpha-exponent exists to protect). Pass ``0`` to
    get the drop-unseen behavior explicitly."""
    keep = _BUCKETS if default_cut is None else int(default_cut)
    return (
        df.join(F.broadcast(cuts), stratum_col, "left")
        .filter(
            _bucket(F.col(key_col), salt, hash_fn)
            < F.coalesce(F.col("__cut"), F.lit(keep))
        )
        .drop("__cut")
    )


def cap_state_increment(
    state: DataFrame | None,
    tick: DataFrame,
    key_col: str,
    group_col: str,
    cap: int,
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One tick of the maintained PER-GROUP CAP state — the
    RefinedWeb-style anti-dominance cap run AT the ledger
    (``streaming.maintained_cap``'s merge law): keep, per group, the
    ``cap`` smallest rows of ``state ∪ tick`` under
    :func:`cap_per_group`'s exact order (keyed-hash bucket, then
    ``key_col``). Top-n of a total order satisfies the merge law
    ``topn(topn(A) ∪ B) == topn(A ∪ B)`` (the
    ``maintained_weighted_sample`` device with hash order instead of
    A-Res keys), so DISJOINT ticks fold in any order and the state
    equals the batch cap of the whole ledger row-for-row
    (pytest-pinned). Exactly-once rides the fold marker — a
    double-applied tick would double-count its keys in the rank
    (multiset semantics), unlike the idempotent set merges; the
    marker is load-bearing here, as for every additive frame.

    Scale: state is ≤ cap rows per group; a tick pays one group-keyed
    top-cap over ``touched state ∪ tick`` (the ``row_number ≤ cap``
    shape keeps Catalyst's partial WindowGroupLimit in play)."""
    rows = tick if state is None else tick.unionByName(
        state.select(*tick.columns)
    )
    w = Window.partitionBy(group_col).orderBy(
        _bucket(F.col(key_col), salt, hash_fn), F.col(key_col)
    )
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
