"""Mergeable distributed sketches: HyperLogLog and Count-Min.

The reference engine surfaces approximate aggregates through DataFusion
(``approx_distinct`` / ``approx_percentile_cont`` — covered by
``b18_approx_agg``/``b18_approx_bounds``); these operators are the
fixed-size-state building blocks UNDERNEATH that surface, implemented
so their full register/counter contents are bit-reproducible across
engines:

- **HyperLogLog** (Flajolet et al. 2007): per-group cardinality from
  ``m = 2^b`` one-byte registers. The only exchange is a
  ``groupBy(group, bucket)`` max — partial ``max()`` reduces every
  partition of a 100 TB scan to ≤ m longs per group before the
  shuffle, the canonical mergeable-sketch shape (vs. the full
  distinct-key shuffle of an exact ``count(DISTINCT)``).
- **Count-Min** (Cormode & Muthukrishnan 2005): frequency
  overestimates from a ``depth × width`` counter grid. Counter
  updates partial-aggregate to ≤ depth·width cells per partition —
  heavy-hitter frequencies without shuffling the key space.

Cross-engine determinism: keys are hashed with the 31-bit polynomial
fold (:func:`~kamu_engine_datafusion_spark.functions.columns.poly_hash31`,
same device as the SQL-verifiable MinHash family), and the HLL rank
``rho`` is the trailing-zero count of the post-bucket hash bits
computed with pure integer ops (``bit_count((w & -w) - 1) + 1``), so a
DuckDB oracle replays registers and counters exactly. The HLL
estimate's float math is also deterministic: every ``2^-rho`` term is a
dyadic rational ≥ 2^-(31-b+1), so register sums are EXACT in binary
doubles regardless of Spark's aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.functions.columns import (
    half_up,
    minhash_coeffs,
)
from kamu_engine_datafusion_spark.operators.deferred import DeferredLedger

_M31 = 2_147_483_647

#: METADATA-SIZED sketch frames (≤ ~k rows per group) that a query
#: composition references from several downstream reads (e.g. a
#: per-tick sketch feeding both a KS block and a merge chain): each
#: reference otherwise re-derives the part's corpus scans. Never persist
#: a corpus-sized frame here — the build's two pruned scans are cheaper
#: than spilling the corpus. Released at the start of a new top-level
#: query/fold (the PRIOR invocation's blocks) so a long-lived engine
#: stays flat — releasing early is always safe (Spark recomputes).
SKETCH_LEDGER = DeferredLedger()


def _hash31(key, hash_fn: str):
    """31-bit key hash: ``poly`` = the char-fold values of
    :func:`~kamu_engine_datafusion_spark.functions.columns.poly_hash31`
    (SQL-replayable, the oracle profile) computed by the bit-exact
    vectorized kernel (``functions/arrow_hash.py::poly31_hash_udf``,
    one ArrowEvalPython per scan); ``xxhash64`` = JVM-codegen'd xxhash
    folded mod M31 (the production profile at 100 TB — avalanching and
    ~an order of magnitude cheaper than the per-char fold; same policy
    as DSIR).

    Call sites are all top-level projections (a pandas UDF cannot sit
    inside a HOF lambda), and multi-reference consumers stage the
    result in its own projection so it evaluates ONCE per row."""
    if hash_fn == "poly":
        from kamu_engine_datafusion_spark.functions.arrow_hash import (
            poly31_hash_udf,
        )

        return poly31_hash_udf()(key)
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(key), F.lit(_M31))
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def hll_alpha(m: int) -> float:
    """Bias-correction constant of the raw HLL estimator (Flajolet et
    al. 2007, Fig. 3): tabulated for small m, asymptotic above."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    b: int = 6,
    hash_fn: str = "poly",
) -> DataFrame:
    """Per-group HyperLogLog registers over the 31-bit hash of ``key``:
    ``(group..., bucket, r)`` with ``bucket = h mod 2^b`` and ``r`` the
    max over members of ``rho(h >> b)``.

    ``rho`` is the 1-based position of the lowest set bit of the
    remaining ``31-b`` hash bits (geometric(1/2) for a uniform hash —
    same law as the paper's leading-zero form), computed integer-only:
    ``bit_count((w & -w) - 1) + 1``, and ``31-b+1`` when ``w = 0``.

    Scale: map-side partial ``max`` bounds per-partition state at
    ``m`` longs per group; the exchange carries sketches, not keys.

    ``2 ≤ b ≤ 16``: below 2 the register rho can reach 31+ and the
    estimate's ``2^-r`` terms need >32-bit shifts (handled — the fold
    shifts a BIGINT — but the α_m table starts at m=4); above 16 the
    sketch stops being smaller than a modest exact distinct.
    """
    if not 2 <= b <= 16:
        raise ValueError(f"hll_registers: b={b} outside [2, 16]")
    m = 1 << b
    cap = 31 - b + 1
    # Stage the hash in its own projection: bucket + rho reference it
    # four times between them, and the poly profile's char fold is an
    # interpreted HOF with no codegen CSE — inlined, every reference
    # re-runs the fold per row (r17). The staged alias survives
    # CollapseProject because it is non-cheap and multiply referenced.
    hashed = df.select(
        *group_cols, _hash31(F.col(key), hash_fn).alias("__h31")
    )
    h = F.col("__h31")
    w = F.shiftright(h, b)
    rho = F.when(w == F.lit(0), F.lit(cap)).otherwise(
        F.bit_count(w.bitwiseAND(-w) - F.lit(1)) + F.lit(1)
    )
    return (
        hashed.select(
            *group_cols,
            (h % F.lit(m)).alias("bucket"),
            rho.cast("long").alias("__rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("__rho").alias("r"))
    )


def hll_estimate(
    regs: DataFrame, group_cols: list[str], b: int = 6
) -> DataFrame:
    """Fold registers to the per-group raw HLL estimate:
    ``(group..., zeros, hll_raw)`` where ``hll_raw = α_m · m² /
    Σ_j 2^(-r_j)`` (absent buckets contribute ``2^0``; ``zeros`` is
    their count — the small-range-regime indicator the caller can gate
    a linear-counting fallback on).

    Exact across engines: each ``2^-r`` is computed as
    ``1.0 / (1 << r)`` (a dyadic double), so the sum is
    order-independent and the estimate is a deterministic function of
    the register multiset.
    """
    if not 2 <= b <= 16:
        raise ValueError(f"hll_estimate: b={b} outside [2, 16]")
    m = 1 << b
    alpha = hll_alpha(m)
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("__nz"),
        # shiftleft with a COLUMN bit count only exists in SQL form
        # (the python wrapper requires a literal int); the shifted 1 is
        # BIGINT — an INT base overflows at r = 31 (reachable at b ≤ 1,
        # and DuckDB's 1 << r is 64-bit, so the engines would diverge)
        F.sum(
            F.lit(1.0)
            / F.expr(
                "shiftleft(cast(1 as bigint), cast(r as int))"
            ).cast("double")
        ).alias("__sp"),
    )
    zeros = (F.lit(m) - F.col("__nz")).cast("long")
    return agg.select(
        *group_cols,
        zeros.alias("zeros"),
        (
            F.lit(alpha * m * m)
            / (F.col("__sp") + zeros.cast("double"))
        ).alias("hll_raw"),
    )


def hll_distinct_report(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    b: int = 6,
    sigma_mult: float = 2.0,
    hash_fn: str = "poly",
) -> DataFrame:
    """Cardinality-sketch audit: per group — exact distinct count of
    ``key``, the HLL estimate from ``2^b`` registers, zero-register
    count, relative error (half-up 6dp), and ``within_sigma`` =
    1 iff ``|est - exact| ≤ sigma_mult · (1.04/√m) · exact`` (the
    paper's standard-error bound) — the trust-the-sketch check run at
    small scale before replacing an exact ``count(DISTINCT)`` (a full
    key shuffle at 100 TB) with the register fold.
    """
    m = 1 << b
    se = sigma_mult * 1.04 / float(m) ** 0.5
    # NULL keys are dropped up front: count(DISTINCT) ignores NULLs but
    # the hash path would sketch them as a constant (inflating the
    # estimate), and an all-NULL group would divide rel_err by
    # exact_distinct = 0. With the filter such a group simply has no
    # report row — defined behavior instead of NULL/garbage.
    df = df.filter(F.col(key).isNotNull())
    est = hll_estimate(
        hll_registers(df, group_cols, key, b, hash_fn), group_cols, b
    )
    exact = df.groupBy(*group_cols).agg(
        F.count_distinct(F.col(key)).cast("long").alias("exact_distinct")
    )
    err = F.abs(F.col("hll_raw") - F.col("exact_distinct"))
    return exact.join(est, group_cols).select(
        *group_cols,
        "exact_distinct",
        "zeros",
        half_up(F.col("hll_raw"), 4).alias("hll_est"),
        half_up(err / F.col("exact_distinct"), 6).alias("rel_err"),
        F.when(err <= F.lit(se) * F.col("exact_distinct"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("within_sigma"),
    )


def _cm_buckets(h, depth: int, width: int, seed: int):
    """Array of the ``depth`` counter buckets from a PRE-STAGED 31-bit
    hash column ``h``: universal-family rehashes ``((a_i·h + b_i) mod
    M31) mod width``. Callers stage the base hash in its own
    projection (``_hash31(...).alias("__h31")``) so each rehash is
    arithmetic on ONE evaluation — inlined, every rehash re-ran the
    hash per row (r17: no codegen CSE for interpreted HOFs or pandas
    UDFs, and a pandas UDF cannot sit inside a let-binding lambda)."""
    coeffs = minhash_coeffs(depth, seed)
    return F.array(
        *[
            (h * F.lit(a) + F.lit(c)) % F.lit(_M31) % F.lit(width)
            for a, c in coeffs
        ]
    )


def cm_counters(
    df: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    hash_fn: str = "poly",
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Count-Min counter grid over the occurrence stream of ``key``:
    ``(i, bucket, c)`` — one row per non-empty cell, ``c`` the number
    of occurrences hashing there under row ``i``'s hash.

    ``extra_group_cols`` (r18): additional grid key columns (e.g. a
    tick id) — the bucket hash is per-occurrence, so a grid built per
    (extra, i, bucket) and sliced on the extra column is BIT-IDENTICAL
    to building each slice's grid separately, at ONE scan instead of
    one per slice (guide §2.3).

    Scale: the in-row bucket array explodes to ``depth`` cells per
    occurrence, but partial counts cap per-partition state at
    ``depth·width`` longs — the exchange carries the grid, never the
    key space.
    """
    eg = [F.col(c) for c in extra_group_cols]
    hashed = df.select(*eg, _hash31(F.col(key), hash_fn).alias("__h31"))
    cells = hashed.select(
        *eg, F.posexplode(_cm_buckets(F.col("__h31"), depth, width, seed))
    )
    return (
        cells.groupBy(
            *extra_group_cols,
            F.col("pos").alias("i"),
            F.col("col").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def cm_lookup(
    counters: DataFrame,
    queries: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    hash_fn: str = "poly",
) -> DataFrame:
    """Point-query the grid: per ``queries`` row, ``cm_est = min_i
    counters[i][h_i(key)]`` appended as a column. The grid is bounded
    at ``depth·width`` rows by construction → broadcast; absent cells
    count 0.
    """
    probes = (
        queries.select(
            F.col(key), _hash31(F.col(key), hash_fn).alias("__h31")
        )
        .select(
            F.col(key),
            F.posexplode(_cm_buckets(F.col("__h31"), depth, width, seed)),
        )
        .select(key, F.col("pos").alias("i"), F.col("col").alias("bucket"))
    )
    joined = probes.join(F.broadcast(counters), ["i", "bucket"], "left")
    est = joined.groupBy(key).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cm_est")
    )
    return queries.join(est, key)


def cm_heavy_hitter_report(
    df: DataFrame,
    key: str,
    top_k: int = 20,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    hash_fn: str = "poly",
) -> DataFrame:
    """Heavy-hitter audit: exact top-``top_k`` of ``key`` by frequency
    (ties → key asc) with the Count-Min estimate alongside —
    ``(key, freq, cm_est, is_overestimate, rel_err)``.

    ``is_overestimate`` (``cm_est ≥ freq``) is a THEOREM of the sketch
    (counters only ever add colliding keys' counts), so the column is
    pinned to literal 1 in the oracle — any 0 is an implementation
    bug, not noise. ``rel_err`` (half-up 6dp) is the collision
    overshoot the width must be sized against.
    """
    exact = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("freq"))
    top = exact.orderBy(F.col("freq").desc(), key).limit(top_k)
    grid = cm_counters(df, key, depth, width, seed, hash_fn)
    looked = cm_lookup(grid, top, key, depth, width, seed, hash_fn)
    return looked.select(
        key,
        "freq",
        "cm_est",
        F.when(F.col("cm_est") >= F.col("freq"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_overestimate"),
        half_up(
            (F.col("cm_est") - F.col("freq")) / F.col("freq"), 6
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch: deterministic hash-level sampling
# ---------------------------------------------------------------------------
#
# The third member of the sketch layer (cardinality = HLL, frequency =
# Count-Min, quantiles = this). Design: KLL-style LEVEL sampling
# (Karnin-Lang-Liberty 2016 keeps ~k items where an item at level L
# represents 2^L inputs), but with the level coin flips REPLACED by a
# pure function of each row's id hash — level(x) = trailing zeros of
# poly31(id) (geometric(1/2), Gibbons' distinct/level sampling device).
# That one change makes the sketch a deterministic function of the
# input SET:
#
# - order-independent: no compaction schedule to replay, so Spark's
#   nondeterministic partition/arrival order can never change the
#   result (sequential KLL's state depends on arrival order — a real
#   hazard on a 1000-executor shuffle, and unreplayable by an oracle);
# - EXACTLY mergeable: sketch(A ∪ B) == merge(sketch(A), sketch(B)),
#   bit-for-bit, not just error-bound-preserving (proof at
#   quantile_sketch_merge); the streaming fold is the same function;
# - SQL-replayable: a DuckDB oracle rebuilds the retained set row for
#   row (hash → level → threshold → filter).
#
# State per group: a threshold ``thr`` + the retained rows {lvl ≥ thr},
# at most k of them once any level is excluded (the canonical threshold
# is thr = 0 if |group| ≤ k else 1 + max{L : |{lvl ≥ L}| > k}, so the
# retained count is ≤ k whenever thr > 0, and each retained row stands
# for 2^thr input rows). Quantile estimate = rank selection over the
# retained rows; with s survivors the rank error is the uniform-sample
# bound O(sqrt(ln(1/δ)/s)) — worse than KLL's O(1/k) at equal k, the
# price of determinism; size k accordingly.


def _qsk_levels(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    val_col: str,
    hash_fn: str,
    salt: str,
) -> DataFrame:
    """Per-row sampling level: trailing zeros of the 31-bit hash of the
    row id's salted string form (31 when the hash is 0). P(lvl ≥ L) =
    2^-L for a uniform hash — the geometric level law, derived from the
    id rather than drawn, so it is replayable and merge-stable."""
    # NULL id or NULL value rows are dropped up front, explicitly: a
    # NULL id would hash to a NULL level and vanish SILENTLY in the
    # threshold filter, and a NULL value would sort below every real
    # value and skew low-quantile rank selection. Same defined-behavior
    # policy as hll_distinct_report's NULL-key filter.
    #
    # The hash is STAGED in its own projection: the lvl expression
    # references it three times, and neither the interpreted HOF fold
    # nor a pandas UDF gets codegen CSE — inlined, every reference
    # re-evaluates per row (r17: sketch build 13.0 s → 6.8 s at sf0.1
    # from single-evaluation alone, then → sub-second on the arrow
    # backend). The staged alias survives CollapseProject because it
    # is non-cheap and multiply referenced.
    hashed = df.filter(
        F.col(id_col).isNotNull() & F.col(val_col).isNotNull()
    ).select(
        *group_cols,
        F.col(id_col),
        F.col(val_col),
        _hash31(
            F.concat(F.col(id_col).cast("string"), F.lit(salt)), hash_fn
        ).alias("__h31"),
    )
    h = F.col("__h31")
    lvl = F.when(h == F.lit(0), F.lit(31)).otherwise(
        F.bit_count(h.bitwiseAND(-h) - F.lit(1))
    )
    return hashed.select(
        *group_cols,
        F.col(id_col),
        F.col(val_col),
        lvl.cast("long").alias("lvl"),
    )


def _qsk_retain(
    rows: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Shared retain step of build and merge: pick each group's
    canonical threshold from per-level counts and keep rows above it.
    ``rows`` carries a per-row floor ``__fl`` (0 on a fresh build, the
    carried threshold on a merge) — the threshold never goes below the
    floor, because rows under a part's old threshold are already gone
    and re-lowering would misreport the retained rows' weights.

    Scale: per-(group, level) counts are ≤ 32 rows per group (ONE
    partial+final aggregate — map-side combine caps each task's
    contribution at 32 longs per group), the suffix-sum window runs
    over that tiny frame, and the per-group threshold table broadcasts
    back onto the scan — the corpus itself is never shuffled. With an
    unbounded group-key domain swap the broadcast for a shuffle join;
    the plan is otherwise unchanged.
    """
    from pyspark.sql import Window

    cnt = rows.groupBy(*group_cols, "lvl").agg(
        F.count(F.lit(1)).alias("__c"), F.max("__fl").alias("__f")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.desc("lvl"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suf = cnt.withColumn("__s", F.sum("__c").over(w))
    thr = suf.groupBy(*group_cols).agg(
        F.greatest(
            F.coalesce(
                F.max(F.when(F.col("__s") > F.lit(k), F.col("lvl")))
                + F.lit(1),
                F.lit(0),
            ),
            F.max("__f"),
        )
        .cast("long")
        .alias("thr")
    )
    return (
        rows.join(F.broadcast(thr), group_cols)
        .filter(F.col("lvl") >= F.col("thr"))
        .drop("__fl")
    )


def quantile_sketch(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    val_col: str,
    k: int = 256,
    hash_fn: str = "poly",
    salt: str = "#qsk",
) -> DataFrame:
    """Build the per-group quantile sketch: ``(group..., id, val, lvl,
    thr)`` — the ≤ max(k, |group ∩ lvl=thr…|) retained rows whose
    hash-derived level clears the group's canonical threshold, each
    standing for ``2^thr`` input rows. ``id_col`` must be unique per
    row (it is the sampling coin); rows with NULL id or NULL value are
    dropped up front (documented defined behavior — see _qsk_levels).

    This is what ``percentile_approx``-shaped maintenance uses
    incrementally at 100 TB: per-group state is bounded at ~k rows by
    construction, folds across partitions/batches are exact merges
    (see :func:`quantile_sketch_merge`), and winsorize / robust-outlier
    / curriculum-quantile cut points read the retained rows instead of
    re-sorting the corpus.
    """
    rows = _qsk_levels(df, group_cols, id_col, val_col, hash_fn, salt)
    return _qsk_retain(
        rows.withColumn("__fl", F.lit(0).cast("long")), group_cols, k
    )


def quantile_sketch_merge(
    sketches: list[DataFrame], group_cols: list[str], k: int
) -> DataFrame:
    """Merge sketches of disjoint parts into THE sketch of the union —
    exactly: ``merge([sketch(A), sketch(B)]) == sketch(A ∪ B)`` bit for
    bit (pytest-pinned, plus a hypothesis property over random splits).

    Why exact: levels are per-row intrinsic (hash of id), so a part's
    sketch retains every row with lvl ≥ its threshold. For any L ≥
    max(part thresholds) the union of sketches contains ALL full-data
    rows with lvl ≥ L, so the per-level suffix counts — and hence the
    canonical threshold and retained set — computed on the union of
    sketches equal those computed on the full data (the full-data
    threshold is ≥ every part threshold: below a part's threshold that
    part alone already exceeded k).
    """
    parts = [
        s.select(
            *group_cols,
            *[c for c in s.columns if c not in {*group_cols, "thr"}],
            F.col("thr").alias("__fl"),
        )
        for s in sketches
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # The union is metadata-sized (≤ Σ part-sketch rows). Checkpoint
    # it so _qsk_retain's dual reference (counts + probe) computes
    # each part ONCE — a chained per-tick fold otherwise re-derives
    # the whole prior chain per reference, 2^ticks recomputes of the
    # earliest parts (r17, measured 13.9 → linear at sf0.1).
    # localCheckpoint, not persist: it also TRUNCATES the logical
    # plan, so a merge CHAIN's analysis stays flat per tick
    # (persist-only levels re-analyzed the whole nested tree per job).
    # LAZY (r17): an eager checkpoint scheduled one extra
    # driver-synchronized job per merge level and double-materialized
    # SKETCH_LEDGER parts; the first consumer action materializes
    # the level instead (A/B over the five KS/merge/collapse keys:
    # every one faster, e.g. xsketch_quantile_merge 7.6 → 4.0 s,
    # xks_drift_log 7.2 → 5.2 s at sf0.1; values identical).
    u = u.localCheckpoint(eager=False)
    return _qsk_retain(u, group_cols, k)


def quantile_sketch_estimates(
    sketch: DataFrame,
    group_cols: list[str],
    id_col: str,
    val_col: str,
    qs: list[tuple[int, int]],
) -> DataFrame:
    """Per-group quantile estimates from the retained rows: for each
    quantile ``q = num/den`` the value at 1-based rank
    ``(num·(s−1)) div den + 1`` of the retained rows ordered by
    ``(val, id)`` — lower-interpolation rank selection in pure INTEGER
    arithmetic (no float rank math: a double ``0.99·(n−1)`` floors
    differently from exact rational arithmetic near integers, and
    engines disagree on double→int casts).

    Output: ``(group..., thr, n_retained, q_<num>_<den>...)``. The
    window is bounded: ≤ ~k rows per group by sketch construction.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(val_col, id_col)
    ranked = (
        sketch.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__s",
            F.count(F.lit(1)).over(
                Window.partitionBy(*group_cols).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    aggs = [
        F.max("thr").alias("thr"),
        F.max("__s").cast("long").alias("n_retained"),
    ]
    for num, den in qs:
        tgt = F.expr(f"({num} * (__s - 1)) div {den}") + F.lit(1)
        aggs.append(
            F.max(F.when(F.col("__rn") == tgt, F.col(val_col))).alias(
                f"q_{num}_{den}"
            )
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def quantile_sketch_report(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    val_col: str,
    qs: list[tuple[int, int]] | None = None,
    k: int = 256,
    eps: float = 0.125,
    hash_fn: str = "poly",
) -> DataFrame:
    """Trust-the-sketch audit (the :func:`hll_distinct_report` shape
    for quantiles): per group — exact row count, sketch threshold and
    survivor count, and for each quantile ``q = num/den`` the sketch
    estimate, the exact quantile (same integer rank selection over the
    full data), the RANK error of the estimate in the full data, and
    ``ok`` = 1 iff that rank error ≤ ``eps`` (pinned vs literal 1 in
    the oracle — the sketch earning its keep at this k).

    Rank error honors ties: with ``frac_lt``/``frac_le`` the fraction
    of rows strictly below / at-or-below the estimate, the estimate
    covers the rank interval [frac_lt, frac_le] and the error is
    ``max(0, q − frac_le, frac_lt − q)`` (half-up 6dp).

    The exact side sorts each full group — this is the AUDIT operator
    run at small scale to size ``k`` before the sketch replaces exact
    per-group sorts at 100 TB (same contract as the HLL and Count-Min
    report ops).
    """
    from pyspark.sql import Window

    qs = qs or [(1, 2), (9, 10), (99, 100)]
    # the sketch drops NULL id/value rows (see _qsk_levels); the exact
    # side and the rank probes must see the same population
    df = df.filter(
        F.col(id_col).isNotNull() & F.col(val_col).isNotNull()
    )
    sk = quantile_sketch(df, group_cols, id_col, val_col, k, hash_fn)
    est = quantile_sketch_estimates(sk, group_cols, id_col, val_col, qs)

    w = Window.partitionBy(*group_cols).orderBy(val_col, id_col)
    ranked = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n",
        F.count(F.lit(1)).over(
            Window.partitionBy(*group_cols).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    ex_aggs = [F.max("__n").cast("long").alias("n")]
    for num, den in qs:
        tgt = F.expr(f"({num} * (__n - 1)) div {den}") + F.lit(1)
        ex_aggs.append(
            F.max(F.when(F.col("__rn") == tgt, F.col(val_col))).alias(
                f"ex_{num}_{den}"
            )
        )
    exact = ranked.groupBy(*group_cols).agg(*ex_aggs)

    # rank of each estimate in the full data: broadcast the tiny
    # per-group estimate row back onto the scan, ONE conditional
    # aggregate for all quantiles
    probe = df.join(F.broadcast(est), group_cols)
    acc_aggs = []
    for num, den in qs:
        e = F.col(f"q_{num}_{den}")
        acc_aggs.append(
            F.sum((F.col(val_col) < e).cast("long")).alias(f"lt_{num}_{den}")
        )
        acc_aggs.append(
            F.sum((F.col(val_col) <= e).cast("long")).alias(f"le_{num}_{den}")
        )
    acc = probe.groupBy(*group_cols).agg(*acc_aggs)

    out = exact.join(est, group_cols).join(acc, group_cols)
    cols = [*group_cols, "n", "thr", "n_retained"]
    for num, den in qs:
        q = F.lit(num).cast("double") / F.lit(den).cast("double")
        frac_lt = F.col(f"lt_{num}_{den}").cast("double") / F.col("n")
        frac_le = F.col(f"le_{num}_{den}").cast("double") / F.col("n")
        err = F.greatest(F.lit(0.0), q - frac_le, frac_lt - q)
        tag = f"p{num}_{den}"
        cols.append(F.col(f"q_{num}_{den}").alias(f"est_{tag}"))
        cols.append(F.col(f"ex_{num}_{den}").alias(f"exact_{tag}"))
        cols.append(half_up(err, 6).alias(f"err_{tag}"))
        cols.append(
            F.when(err <= F.lit(eps), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias(f"ok_{tag}")
        )
    return out.select(*cols)


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int = 256,
    hash_fn: str = "poly",
    salt: str = "#kmv",
) -> DataFrame:
    """Per-group KMV (k-minimum-values) distinct-count sketch (Bar-
    Yossef et al. 2002; Beyer et al. 2007): the ``k`` SMALLEST distinct
    key hashes per group, rows ``(group..., hv)``.

    Unlike HLL's registers (a max-fold), the KMV state is a pure
    function of the input SET — ``topk_min(A ∪ B) ==
    topk_min(topk_min(A) ∪ topk_min(B))`` holds EXACTLY (any hash in
    the union's k smallest has rank ≤ k within its own part, so the
    part sketch retained it) — the same exact-merge device as the
    hash-level quantile sketch and the A-Res reservoir, applied to
    distinct counting. The estimate (:func:`kmv_estimate`) is
    ``(k−1)/u_k`` with ``u_k`` the k-th smallest hash as a uniform in
    (0, 1]; with fewer than k distinct hashes the count is exact.

    Cross-engine determinism: ``hash_fn="poly"`` hashes
    ``key || salt`` with the 31-bit char fold, so a DuckDB oracle
    replays the state rows AND the estimate bit-for-bit (one float
    division); ``xxhash64`` is the production profile.

    Scale: one distinct on (group, hv) — partial-aggregated before its
    exchange — then a ``row_number ≤ k`` rank filter that Catalyst
    turns into a map-side Partial WindowGroupLimit: no group ships
    more than k rows per upstream partition; state is ≤ k longs/group.
    """
    from pyspark.sql import Window

    key = F.col(key_col)
    h = _hash31(F.concat(key.cast("string"), F.lit(salt)), hash_fn)
    rows = (
        df.filter(key.isNotNull())
        .select(*group_cols, h.alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_merge(
    sketches: list[DataFrame], group_cols: list[str], k: int
) -> DataFrame:
    """Merge KMV sketches of disjoint (or overlapping — hv is
    idempotent under distinct) parts into THE sketch of the union,
    exactly: union, re-distinct, re-take the k smallest per group.
    ``merge([kmv(A), kmv(B)]) == kmv(A ∪ B)`` row-for-row
    (pytest-pinned + hypothesis property over random splits)."""
    from pyspark.sql import Window

    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        u.distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_collapse(
    sketch: DataFrame,
    group_cols: list[str],
    drop_cols: list[str],
    k: int,
) -> DataFrame:
    """Collapse a FINER-grouped KMV frame into a coarser grouping —
    the sliding-window RETIREMENT read for distinct counting (r17
    staging: the ``quantile_sketch_collapse`` device applied to KMV;
    keep one KMV sketch per (group, time-bucket); the reference
    sketch of any bucket window is the collapse over the SELECTED
    buckets, and old data retires by not being selected — no rebuild,
    no delete pass): project the ``drop_cols`` (the bucket keys)
    away, re-distinct (the same key hashes into multiple buckets),
    and re-take the k smallest per coarse group. Because the KMV
    state is a pure set function with the bottom-k merge law
    (``topk_min(A ∪ B) == topk_min(topk_min(A) ∪ topk_min(B))``,
    see :func:`kmv_merge`), the collapsed window equals the sketch
    built DIRECTLY over the window's rows row-for-row
    (driver-verified: the ``xkmv_window_collapse`` oracle builds the
    direct sketch).

    Scale: input is |groups × buckets| × ≤k metadata rows; one
    group-keyed re-retain with the map-side WindowGroupLimit. The
    corpus is never touched — a distinct-count drift reference that
    follows the window at sketch cost."""
    from pyspark.sql import Window

    u = sketch.select(
        *[c for c in sketch.columns if c not in set(drop_cols)]
    )
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        u.distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate(
    sketch: DataFrame, group_cols: list[str], k: int, dp: int = 4
) -> DataFrame:
    """Distinct-count estimate per group from a KMV sketch:
    ``(group..., n_state, dv_est)`` — exact ``n_state`` when the group
    never filled its k slots, else the unbiased ``(k−1)/u_k`` with
    ``u_k = (max hv + 1) / (M31 + 1)`` (the k-th smallest as a uniform
    in (0, 1]; ~10% rms error at k=256). One float division, half-up
    ``dp`` — the oracle replays it exactly."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_state"),
        F.max("hv").alias("__hk"),
    )
    u_k = (F.col("__hk") + 1) / F.lit(float(_M31 + 1))
    return agg.select(
        *group_cols,
        "n_state",
        F.when(
            F.col("n_state") < k, F.col("n_state").cast("double")
        )
        .otherwise(half_up(F.lit(float(k - 1)) / u_k, dp))
        .alias("dv_est"),
    )


def kmv_pairwise_jaccard(
    sketch: DataFrame, group_col: str, k: int, dp: int = 4
) -> DataFrame:
    """Pairwise Jaccard overlap estimates between ALL groups computed
    from their KMV sketches ALONE (Beyer et al. 2007 §5: set-operation
    estimates from k-minimum-values synopses) — the cross-source
    overlap matrix (``cross_source_overlap`` re-scans content; this
    reads vocab-sized state, so it runs on the MAINTAINED sketch
    without touching the corpus).

    For groups ``a < b``: take the k smallest hashes of the pair's
    UNION (both sketches merged — exact, the KMV merge law), and
    estimate ``J(A, B) ≈ |{h ∈ K : h ∈ sk(A) ∧ h ∈ sk(B)}| / |K|``.
    Deterministic given the hash function (the oracle replays it
    exactly); standard error ~1/√k.

    Returns ``(grp_a, grp_b, n_union_sketch, n_both, jaccard_est)``
    for every unordered pair, natively-ordered ``grp_a < grp_b``.

    Scale: the input is the SKETCH (≤ k rows per group — metadata,
    never the corpus), so the pair fan-out is bounded by |groups|²·k;
    the rank filter per pair gets the map-side WindowGroupLimit.
    """
    from pyspark.sql import Window

    groups = sketch.select(F.col(group_col).alias("__g")).distinct()
    pairs = (
        groups.select(F.col("__g").alias("grp_a"))
        .crossJoin(groups.select(F.col("__g").alias("grp_b")))
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    rows = sketch.select(F.col(group_col).alias("__g"), "hv")
    member = (
        rows.join(
            F.broadcast(pairs),
            (F.col("__g") == F.col("grp_a"))
            | (F.col("__g") == F.col("grp_b")),
        )
        .groupBy("grp_a", "grp_b", "hv")
        .agg(
            F.max((F.col("__g") == F.col("grp_a")).cast("int")).alias(
                "__in_a"
            ),
            F.max((F.col("__g") == F.col("grp_b")).cast("int")).alias(
                "__in_b"
            ),
        )
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("hv")
    topk = member.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return topk.groupBy("grp_a", "grp_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.sum(
            (F.col("__in_a") + F.col("__in_b") == 2).cast("long")
        ).alias("n_both"),
    ).select(
        "grp_a",
        "grp_b",
        "n_union_sketch",
        "n_both",
        half_up(
            F.col("n_both") / F.col("n_union_sketch"), dp
        ).alias("jaccard_est"),
    )


def verified_heavy_hitters(
    df: DataFrame,
    key: str,
    phi_num: int = 1,
    phi_den: int = 100,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    hash_fn: str = "poly",
) -> DataFrame:
    """EXACT φ-heavy hitters (every key with frequency ≥ ⌈φ·N⌉) via
    Count-Min candidates + an exact verify pass — the two-phase
    sketch-then-verify device (``bloom_flag_contaminated``'s shape
    applied to frequency): pass 1 reduces the corpus to the
    ``depth × width`` grid and keeps only keys whose CM estimate
    clears the threshold; pass 2 exactly counts THAT sliver. The CM
    overestimate theorem (``cm_est ≥ freq`` always) means phase 1 has
    NO false negatives, so the result EQUALS the direct ``GROUP BY
    HAVING freq ≥ ⌈φN⌉`` rule — oracle-provably, the same way the
    Bloom path equals the exact decontamination rule. False positives
    only cost verify work, bounded by the collision rate the width is
    sized against.

    Returns ``(key, freq, n_total)`` for every true heavy hitter,
    exact counts. ``φ = phi_num/phi_den`` with the integer-exact
    threshold ``thr = ceil(φ·N) = (phi_num·N + phi_den − 1) //
    phi_den`` — no float in the cut.

    Scale: phase 1's exchange is ≤ depth·width longs per partition
    (never the key space); the candidate set is ≤ 1/φ true hitters +
    collision noise — broadcast-small by construction — so phase 2 is
    a broadcast semi-join + a partial count only over rows whose key
    survived. The full-key-space groupBy of the direct rule never
    happens.
    """
    # NULL keys are dropped up front (defined behavior): a NULL key
    # hashes to NULL buckets so the CM path could never surface it,
    # while the direct rule's GROUP BY would — excluding NULLs from
    # BOTH the count and the candidates keeps the two-phase result
    # exactly equal to the direct rule over non-NULL keys.
    df = df.filter(F.col(key).isNotNull())
    n_total = df.count()
    grid = cm_counters(df, key, depth, width, seed, hash_fn)
    cells = [[0] * width for _ in range(depth)]
    for r in grid.collect():
        cells[int(r["i"])][int(r["bucket"])] = int(r["c"])
    return _hh_verify_from_cells(
        df, key, cells, n_total, phi_num, phi_den, depth, width, seed,
        hash_fn,
    )


def _hh_verify_from_cells(
    df: DataFrame,
    key: str,
    cells: list,
    n_total: int,
    phi_num: int,
    phi_den: int,
    depth: int,
    width: int,
    seed: int,
    hash_fn: str,
) -> DataFrame:
    """Shared phase 2 of :func:`verified_heavy_hitters` and
    :func:`heavy_hitters_from_state`: candidate filter against the
    driver-side ``cells`` grid + exact verify. ``df`` must already be
    NULL-key-filtered and be the SAME population the grid counted.

    The grid rides as ONE broadcast row of nested arrays (bounded at
    depth·width longs by construction) so the candidate filter runs
    PER ROW at scan speed — element_at lookups in codegen, never a
    full-key-space distinct/groupBy, and never literals inside an
    interpreted lambda (the 22× rule)."""
    thr = (phi_num * n_total + phi_den - 1) // phi_den
    cells_df = df.sparkSession.createDataFrame(
        [(cells,)], "cells array<array<bigint>>"
    )
    # Stage the base hash in its own projection: each of the depth
    # lookups references it, and an unstaged reference would inline
    # (and re-evaluate) the whole hash per lookup (r17).
    buckets = _cm_buckets(F.col("__h31"), depth, width, seed)
    lookups = [
        F.element_at(
            F.element_at("cells", i + 1),
            (F.element_at(buckets, i + 1) + 1).cast("int"),
        )
        for i in range(depth)
    ]
    # depth=1 is a single lookup — F.least requires ≥2 args
    est = lookups[0] if depth == 1 else F.least(*lookups)
    cand = (
        df.select(
            F.col(key), _hash31(F.col(key), hash_fn).alias("__h31")
        )
        .crossJoin(F.broadcast(cells_df))
        .filter(est >= thr)
        .select(key)
        .distinct()
    )
    exact = (
        df.join(F.broadcast(cand), key, "left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.col("freq") >= thr)
    )
    return exact.select(
        key, "freq", F.lit(n_total).cast("long").alias("n_total")
    )


def heavy_hitters_from_grid(
    grid: DataFrame,
    df: DataFrame,
    key: str,
    phi_num: int = 1,
    phi_den: int = 100,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    hash_fn: str = "poly",
) -> DataFrame:
    """EXACT φ-heavy hitters with the Count-Min GRID supplied — the
    read side of the continuously-maintained heavy-hitter monitor
    (``streaming.maintained_countmin`` state, or any
    :func:`cm_counters` output): phase 1's corpus pass (building the
    grid) is already paid for by the maintained fold, so the whole
    query is ONE scan of ``df`` — candidate filter at scan speed +
    the broadcast-semi-join verify. Result EQUALS
    :func:`verified_heavy_hitters` over the same population
    row-for-row (additive CM fold ⇒ identical grid ⇒ identical
    candidates; the overestimate theorem still guarantees recall) —
    pytest-pinned across a 3-tick maintained fold.

    ``df`` must be the population the grid counted (the ledger the
    maintained fold consumed). ``N`` is read off the grid itself —
    every occurrence lands in exactly one cell per row, so the row-0
    cell sum IS the non-NULL-key count: no ``df.count()`` pass.
    NULL-bucket cells (NULL keys fold to NULL buckets in a raw
    ``cm_counters`` grid) are excluded, matching the batch operator's
    NULL-key drop."""
    rows = (
        grid.filter(F.col("bucket").isNotNull())
        .select("i", "bucket", "c")
        .collect()
    )  # ≤ depth·width rows — bounded broadcast DATA (the 22× rule)
    cells = [[0] * width for _ in range(depth)]
    for r in rows:
        i, b = int(r["i"]), int(r["bucket"])
        if i >= depth or b >= width:
            # loud, not silent: a grid built under a different
            # geometry would otherwise read as zeros and UNDER-count
            # candidates — a correctness failure the overestimate
            # theorem can't save
            raise ValueError(
                f"grid cell (i={i}, bucket={b}) outside the supplied "
                f"depth={depth}/width={width} — the maintained fold's "
                "grid geometry must match this call's"
            )
        cells[i][b] = int(r["c"])
    # the reverse mismatch (grid folded under a SMALLER depth than this
    # call's) passes the per-cell bound but leaves whole rows at zero —
    # the min-over-rows candidate filter would then silently return
    # nothing. A CM grid counts every occurrence once per row, so a
    # non-empty grid must populate EVERY row index 0..depth-1; missing
    # rows mean the fold's depth was smaller. (A smaller fold WIDTH is
    # not detectable from cell positions alone — bucket values are
    # simply a subset of the range — so width agreement stays part of
    # the caller contract, per the docstring.)
    if rows:
        seen_i = {int(r["i"]) for r in rows}
        missing = set(range(depth)) - seen_i
        if missing:
            raise ValueError(
                f"grid has no cells for row index(es) {sorted(missing)} "
                f"— it was folded under a smaller depth than this "
                f"call's depth={depth}; the maintained fold's grid "
                "geometry must match this call's"
            )
        # every row counts every occurrence exactly once, so row sums
        # must agree — a cheap integrity check that also catches a
        # partially-applied fold
        sums = {sum(row) for row in cells}
        if len(sums) > 1:
            raise ValueError(
                f"grid row sums disagree ({sorted(sums)}) — a CM grid "
                "counts every occurrence once per row; this grid is "
                "corrupt or partially folded"
            )
    n_total = sum(cells[0])
    return _hh_verify_from_cells(
        df.filter(F.col(key).isNotNull()), key, cells, n_total,
        phi_num, phi_den, depth, width, seed, hash_fn,
    )


def kmv_pairwise_containment(
    sketch: DataFrame, group_col: str, k: int, dp: int = 4
) -> DataFrame:
    """Pairwise ASYMMETRIC containment estimates between all groups
    from their KMV sketches alone — the directional companion of
    :func:`kmv_pairwise_jaccard`: ``C(A→B) = |A ∩ B| / |A|`` detects
    a source that is mostly a SUBSET of another (wrapper sites, quoted
    reposts, mirrored subcorpora), which the symmetric Jaccard dilutes
    whenever the superset side is large.

    Estimator (bottom-k set-operation form, Cohen & Kaplan 2007 /
    Beyer et al. 2007): over the k smallest hashes of the pair's
    UNION, ``C(A→B) ≈ |{h ∈ K : h ∈ sk(A) ∧ h ∈ sk(B)}| /
    |{h ∈ K : h ∈ sk(A)}|`` — both counts read the same union-top-k
    membership frame, so the whole matrix is one pass over
    ``|groups|²·k`` METADATA rows (never the corpus). Deterministic
    given the hash function; NULL when the union-top-k contains no
    hash of the denominator side (an empty group's direction is
    undefined).

    Returns one row per ORDERED pair ``(grp_a, grp_b, n_a_in_union,
    n_both, containment_a_in_b)`` for ``grp_a != grp_b``.
    """
    from pyspark.sql import Window

    groups = sketch.select(F.col(group_col).alias("__g")).distinct()
    pairs = (
        groups.select(F.col("__g").alias("grp_a"))
        .crossJoin(groups.select(F.col("__g").alias("grp_b")))
        .filter(F.col("grp_a") != F.col("grp_b"))
    )
    rows = sketch.select(F.col(group_col).alias("__g"), "hv")
    member = (
        rows.join(
            F.broadcast(pairs),
            (F.col("__g") == F.col("grp_a"))
            | (F.col("__g") == F.col("grp_b")),
        )
        .groupBy("grp_a", "grp_b", "hv")
        .agg(
            F.max((F.col("__g") == F.col("grp_a")).cast("int")).alias(
                "__in_a"
            ),
            F.max((F.col("__g") == F.col("grp_b")).cast("int")).alias(
                "__in_b"
            ),
        )
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("hv")
    topk = member.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    agg = topk.groupBy("grp_a", "grp_b").agg(
        F.sum(F.col("__in_a").cast("long")).alias("n_a_in_union"),
        F.sum(
            (F.col("__in_a") + F.col("__in_b") == 2).cast("long")
        ).alias("n_both"),
    )
    return agg.select(
        "grp_a",
        "grp_b",
        "n_a_in_union",
        "n_both",
        F.when(
            F.col("n_a_in_union") > 0,
            half_up(F.col("n_both") / F.col("n_a_in_union"), dp),
        ).alias("containment_a_in_b"),
    )


def kmv_overlap_monitor(
    sketch: DataFrame, group_col: str, k: int, dp: int = 4
) -> DataFrame:
    """The combined cross-source overlap matrix — pairwise Jaccard AND
    directional containment — from the KMV sketches alone, in ONE pass
    over the union-top-k membership frame (:func:`kmv_pairwise_jaccard`
    and :func:`kmv_pairwise_containment` each build their own frame;
    the monitor shares it, halving the metadata scan). This is the
    read-side of the continuously-maintained overlap monitor
    (``streaming.read_maintained_kmv_overlap``): the maintained KMV
    state IS the batch sketch (exact merge law), so the live matrix
    never touches the corpus — it reads ≤ k rows per group of folded
    state.

    One row per ORDERED pair ``(grp_a, grp_b, n_a_in_union, n_both,
    containment_a_in_b, n_union_sketch, jaccard_est)`` for
    ``grp_a != grp_b``; the symmetric Jaccard repeats on both
    orientations of a pair (pytest-pinned equal to the two separate
    estimators row-for-row). ``containment_a_in_b`` is NULL when the
    union-top-k holds no hash of side a (empty-group direction
    undefined, same convention as the standalone estimator).

    Scale: input is the sketch (≤ k rows/group — metadata); pair
    fan-out bounded by |groups|²·k; the per-pair rank filter gets the
    map-side WindowGroupLimit. The corpus is never re-read.
    """
    from pyspark.sql import Window

    groups = sketch.select(F.col(group_col).alias("__g")).distinct()
    pairs = (
        groups.select(F.col("__g").alias("grp_a"))
        .crossJoin(groups.select(F.col("__g").alias("grp_b")))
        .filter(F.col("grp_a") != F.col("grp_b"))
    )
    rows = sketch.select(F.col(group_col).alias("__g"), "hv")
    member = (
        rows.join(
            F.broadcast(pairs),
            (F.col("__g") == F.col("grp_a"))
            | (F.col("__g") == F.col("grp_b")),
        )
        .groupBy("grp_a", "grp_b", "hv")
        .agg(
            F.max((F.col("__g") == F.col("grp_a")).cast("int")).alias(
                "__in_a"
            ),
            F.max((F.col("__g") == F.col("grp_b")).cast("int")).alias(
                "__in_b"
            ),
        )
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("hv")
    topk = member.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    agg = topk.groupBy("grp_a", "grp_b").agg(
        F.sum(F.col("__in_a").cast("long")).alias("n_a_in_union"),
        F.sum(
            (F.col("__in_a") + F.col("__in_b") == 2).cast("long")
        ).alias("n_both"),
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
    )
    return agg.select(
        "grp_a",
        "grp_b",
        "n_a_in_union",
        "n_both",
        F.when(
            F.col("n_a_in_union") > 0,
            half_up(F.col("n_both") / F.col("n_a_in_union"), dp),
        ).alias("containment_a_in_b"),
        "n_union_sketch",
        half_up(
            F.col("n_both") / F.col("n_union_sketch"), dp
        ).alias("jaccard_est"),
    )


def ks_from_sketches(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    group_cols: list[str],
    val_col: str = "val",
    dp: int = 6,
) -> DataFrame:
    """Per-group Kolmogorov–Smirnov drift statistic computed from two
    maintained quantile-sketch states ALONE (r17 staging: "KS drift
    from quantile sketches") — the distribution-shift alarm a 100 TB
    ingest runs per tick WITHOUT re-scanning either population: both
    inputs are :func:`quantile_sketch` retained-row frames (reference
    window vs current tick), and because every retained row of a
    group's sketch stands for the same ``2^thr`` input rows, the
    sketch ECDF is ``rank/size`` over the retained rows — the 2^thr
    weights cancel. KS = max over the union's distinct values of
    |ECDF_a − ECDF_b|, with the sketch's rank-error bound (ε ≈ 1/k
    per side) bounding the drift estimate's error.

    Exact-integer discipline (the hash-verifiable sketch-family
    contract): the max runs on |cumA·sB − cumB·sA| (BIGINT, bounded by
    retained² ≤ ~(2k)²) and divides by ``sA·sB`` ONCE at the end,
    half-up ``dp`` — no float accumulations to disagree across
    engines. ``ks_at`` reports the SMALLEST value attaining the max
    (deterministic tiebreak).

    Output: one row per group present in BOTH sketches —
    ``(group…, n_a, n_b, ks, ks_at)`` with ``n_a``/``n_b`` the
    retained sizes. Scale: input frames are sketch-sized (≤ ~2k rows
    per group — metadata); one group-keyed window over ≤ 2k distinct
    values per group; the corpora are never touched."""
    from pyspark.sql import Window

    ua = sketch_a.select(
        *group_cols, F.col(val_col).alias("__v"), F.lit(1).alias("__sd")
    )
    ub = sketch_b.select(
        *group_cols, F.col(val_col).alias("__v"), F.lit(0).alias("__sd")
    )
    per_val = (
        ua.unionByName(ub)
        .groupBy(*group_cols, "__v")
        .agg(
            F.sum("__sd").cast("long").alias("__ca"),
            F.sum(1 - F.col("__sd")).cast("long").alias("__cb"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("__v")
    wg = Window.partitionBy(*group_cols)
    cum = per_val.select(
        *group_cols,
        "__v",
        F.sum("__ca").over(w).alias("__cuma"),
        F.sum("__cb").over(w).alias("__cumb"),
        F.sum("__ca").over(wg).alias("__sa"),
        F.sum("__cb").over(wg).alias("__sb"),
    )
    scored = cum.withColumn(
        "__d",
        F.abs(
            F.col("__cuma") * F.col("__sb")
            - F.col("__cumb") * F.col("__sa")
        ),
    ).withColumn("__dm", F.max("__d").over(wg))
    return (
        scored.filter((F.col("__sa") > 0) & (F.col("__sb") > 0))
        .groupBy(*group_cols)
        .agg(
            F.max("__sa").cast("long").alias("n_a"),
            F.max("__sb").cast("long").alias("n_b"),
            half_up(
                F.max("__d") / (F.max("__sa") * F.max("__sb")), dp
            ).alias("ks"),
            F.min(
                F.when(F.col("__d") == F.col("__dm"), F.col("__v"))
            ).alias("ks_at"),
        )
    )


def kmv_overlap_delta(
    prev: DataFrame,
    cur: DataFrame,
    alarm_delta: float = 0.05,
    dp: int = 4,
    metric: str = "jaccard_est",
) -> DataFrame:
    """Tick-over-tick OVERLAP DRIFT alarm from two
    :func:`kmv_overlap_monitor` matrices (r17 staging: "KMV overlap
    delta alarm") — the provenance-leakage tripwire a multi-source
    ingest runs per tick: a source pair whose content Jaccard JUMPS
    between ticks means one feed started mirroring another (or a
    contaminated dump landed), and the KMV states make the check
    metadata-sized.

    Full-outer join on the ordered pair: ``(grp_a, grp_b, j_prev,
    j_cur, delta, alarm)`` — ``delta = |j_cur − j_prev|`` half-up
    ``dp`` (inputs are already half-up from the monitor), ``alarm`` =
    delta > ``alarm_delta``; a pair present on only ONE side gets a
    NULL delta and ``alarm = true`` (a pair appearing or vanishing IS
    the alarm — documented, not hidden).

    ``metric`` selects the monitor column to diff: ``"jaccard_est"``
    (default — the symmetric signal) or ``"containment_a_in_b"`` (the
    DIRECTIONAL alarm: one feed ABSORBING another moves
    containment(victim→absorber) toward 1 before the symmetric
    Jaccard reacts, because Jaccard is diluted by the absorber's
    size). A NULL containment (empty-side direction, the monitor's
    convention) behaves like a missing pair: NULL delta, alarm=true.

    Scale: both inputs are |groups|²-bounded metadata frames; one
    pair-keyed join, the corpora never touched."""
    p = prev.select(
        "grp_a", "grp_b", F.col(metric).alias("j_prev")
    )
    c = cur.select(
        "grp_a", "grp_b", F.col(metric).alias("j_cur")
    )
    joined = p.join(c, ["grp_a", "grp_b"], "full_outer")
    delta = F.when(
        F.col("j_prev").isNotNull() & F.col("j_cur").isNotNull(),
        half_up(F.abs(F.col("j_cur") - F.col("j_prev")), dp),
    )
    return joined.select(
        "grp_a",
        "grp_b",
        "j_prev",
        "j_cur",
        delta.alias("delta"),
        F.coalesce(
            delta > F.lit(float(alarm_delta)), F.lit(True)
        ).alias("alarm"),
    )


def quantile_sketch_collapse(
    sketch: DataFrame,
    group_cols: list[str],
    drop_cols: list[str],
    k: int,
) -> DataFrame:
    """Collapse a FINER-grouped sketch frame into a coarser grouping —
    the sliding-window RETIREMENT read (r18 staging: keep one
    quantile sketch per (group, time-bucket); the reference sketch of
    any bucket window is the collapse over the SELECTED buckets, and
    old data retires by not being selected — no rebuild, no delete
    pass): project the ``drop_cols`` (the bucket keys) away, treat
    each fine sketch's threshold as the retained rows' floor level,
    and re-retain at the coarse grouping. By the exact merge law
    (:func:`quantile_sketch_merge` — per-bucket sketches are sketches
    of disjoint parts) the result equals the sketch built directly
    over the window's rows BIT-FOR-BIT (pytest-pinned).

    Scale: input is |groups × buckets| × ~k metadata rows; one
    group-keyed re-retain. The corpus is never touched — the whole
    point: a drift reference that follows the window at sketch
    cost."""
    keep = [
        c
        for c in sketch.columns
        if c not in {*group_cols, *drop_cols, "thr"}
    ]
    u = sketch.select(
        *group_cols, *keep, F.col("thr").alias("__fl")
    )
    # Metadata-sized input, dual-referenced by _qsk_retain:
    # checkpoint so the (possibly merge-chained) fine-sketch lineage
    # computes once and the plan tree truncates (see the merge note).
    u = u.localCheckpoint(eager=False)
    return _qsk_retain(u, group_cols, k)
