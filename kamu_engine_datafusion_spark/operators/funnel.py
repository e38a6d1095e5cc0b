"""Ordered funnel analytics over an event stream.

The classic product-analytics operator: how many users performed step
1, then step 2 strictly after it, then step 3 after that — optionally
all within a time window anchored at step 1. Implemented as ONE
user-keyed shuffle: per user the (ts, type) events of the funnel's
types collect into a sorted array and an in-row fold walks it,
advancing the step pointer greedily (first qualifying occurrence —
"anchored at first touch", the semantics sequential-min SQL funnels
compute). No joins, no per-step passes, depth computed in one
aggregate regardless of step count.

Scale: the shuffle carries only the funnel-type events (filtered
before the exchange) as (ts_micros, type) pairs; per-user arrays are
bounded by that user's funnel-event count. Skewed hyper-active users
bound the worst partition — cap with a per-user event limit upstream
if the stream has bots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _funnel_zero():
    """The greedy funnel walk's starting accumulator — module-level so
    the incremental fold resumes EXACTLY where the batch walk would be
    (a function, not a constant: Columns need an active session)."""
    return F.struct(
        F.lit(0).alias("depth"),
        F.lit(None).cast("long").alias("t1"),
        F.lit(None).cast("long").alias("tprev"),
    )


def _funnel_advance(steps: list[str], within_seconds: int | None):
    """The greedy per-event step of :func:`funnel_counts`'s walk,
    factored module-level (pure code motion — the batch path is
    byte-identical) so :func:`funnel_fold_increment` folds new ticks
    from a stored accumulator with the same lambda."""
    nsteps = len(steps)
    step_names = F.array(*[F.lit(s) for s in steps])

    def advance(acc, e):
        qualifies = (
            (acc["depth"] < nsteps)
            & (e["tp"] == F.element_at(step_names, acc["depth"] + 1))
            & ((acc["depth"] == 0) | (e["t"] > acc["tprev"]))
        )
        if within_seconds is not None:
            qualifies = qualifies & (
                (acc["depth"] == 0)
                | (e["t"] <= acc["t1"] + within_seconds * 1_000_000)
            )
        return F.when(
            qualifies,
            F.struct(
                (acc["depth"] + 1).alias("depth"),
                F.when(acc["depth"] == 0, e["t"])
                .otherwise(acc["t1"])
                .alias("t1"),
                e["t"].alias("tprev"),
            ),
        ).otherwise(acc)

    return advance


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
) -> DataFrame:
    """Per-step funnel completion counts.

    Returns ``(step, event_type, n_users)``, one row per funnel step:
    ``n_users`` = users whose greedy walk reached at least that step
    (step k requires a ``steps[k-1]`` event strictly after the matched
    step k-1 event; with ``within_seconds``, no later than the matched
    step-1 event plus the window).
    """
    nsteps = len(steps)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    evs = (
        events.filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col).alias("__u"),
            F.struct(ts_us.alias("t"), F.col(type_col).alias("tp")).alias(
                "__e"
            ),
        )
        .groupBy("__u")
        .agg(F.array_sort(F.collect_list("__e")).alias("__evs"))
    )
    zero = _funnel_zero()
    advance = _funnel_advance(steps, within_seconds)

    depths = evs.select(
        F.aggregate(F.col("__evs"), zero, advance)["depth"].alias("__depth")
    )
    counts = depths.agg(
        *[
            F.sum((F.col("__depth") >= k + 1).cast("long")).alias(f"__n{k}")
            for k in range(nsteps)
        ]
    )
    per_step = F.array(
        *[
            F.struct(
                F.lit(k + 1).alias("step"),
                F.lit(steps[k]).alias("event_type"),
                F.coalesce(F.col(f"__n{k}"), F.lit(0)).alias("n_users"),
            )
            for k in range(nsteps)
        ]
    )
    return counts.select(F.explode(per_step).alias("__s")).select(
        F.col("__s.step").alias("step"),
        F.col("__s.event_type").alias("event_type"),
        F.col("__s.n_users").alias("n_users"),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "week",
) -> DataFrame:
    """Cohort retention: users grouped by the bucket of their FIRST
    activity (the cohort), counted in every later bucket they return.

    Returns ``(cohort_start, period, n_users)`` — ``period`` 0 is the
    cohort bucket itself (so ``n_users`` at period 0 is the cohort
    size), ``period`` k counts cohort members active k buckets later.
    ``bucket``: ``"day"`` or ``"week"`` (ISO weeks — both engines
    truncate to Monday).

    Scale: per-user first-activity is one user-keyed shuffle with
    map-side MIN partials; the activity set dedups to (user, bucket)
    rows (bounded by users × span/bucket, not by event count) and joins
    back user-keyed; the final (cohort, period) aggregate is tiny. No
    windows, no per-event state.
    """
    days = {"day": 1, "week": 7}[bucket]
    tb = F.date_trunc(bucket, F.col(ts_col))
    first = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(tb).alias("__cohort")
    )
    activity = events.select(
        F.col(user_col).alias("__u"), tb.alias("__tb")
    ).distinct()
    return (
        activity.join(first, "__u")
        .select(
            "__cohort",
            (F.datediff(F.col("__tb"), F.col("__cohort")) / days)
            .cast("long")
            .alias("period"),
        )
        .groupBy("__cohort", "period")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("__cohort").alias("cohort_start"), "period", "n_users"
        )
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str | None = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    every consecutive pair of events per user (ordered by time, ties
    broken by ``order_tiebreak`` so the sequence is deterministic),
    count ``from_type → to_type`` and normalize per source state.

    Returns ``(from_type, to_type, n, p)`` with ``p`` the row-stochastic
    transition probability. The path-analysis complement of
    :func:`funnel_counts` — where the funnel asks "how many users reach
    step k", the transition matrix asks "where do users actually go".

    Scale: ONE user-keyed shuffle for the lead window; the pair count
    partial-aggregates to |types|² rows; the per-source normalization
    is a window over that tiny matrix.
    """
    order = [F.col(ts_col)]
    if order_tiebreak:
        order.append(F.col(order_tiebreak))
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.withColumn("__next", F.lead(F.col(type_col)).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_src = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        (F.col("n") / F.sum("n").over(per_src)).alias("p"),
    )


def debounce_events(
    events: DataFrame,
    time_col: str = "ts",
    gap_seconds: float = 600.0,
    group_cols: list[str] | None = None,
    order_tiebreak: str | None = "event_id",
) -> DataFrame:
    """Burst dedup / debounce: within each ``group_cols`` stream, keep
    an event only if it arrives MORE than ``gap_seconds`` after the
    immediately PRECEDING event (kept or not) — the standard telemetry
    cleanup that collapses double-clicks, retry storms, and duplicate
    beacons into one logical event, without a fixed window grid.

    Semantics note: the gap is a lag comparison against the previous
    RAW event, not against the last KEPT event. A burst whose every
    consecutive gap is under the threshold therefore collapses to its
    first event no matter how long the burst runs — the chain of
    sub-threshold gaps keeps suppressing. (An anchor-based variant —
    "kept events must be ``gap_seconds`` apart" — would re-emit once
    cumulative elapsed time passes the gap; that needs a running fold
    per group, not one window function.)

    Scale: ONE shuffle on the group key, one lag window per group —
    same cost shape as sessionization. Ties on the timestamp break by
    ``order_tiebreak`` so the survivor set is deterministic.
    """
    group_cols = group_cols or ["user_id", "event_type"]
    order = [F.col(time_col)]
    if order_tiebreak:
        order.append(F.col(order_tiebreak))
    w = Window.partitionBy(*group_cols).orderBy(*order)
    sec = F.unix_micros(F.col(time_col).cast("timestamp")) / F.lit(1e6)
    prev = F.lag(sec).over(w)
    return (
        events.withColumn("__gap_ok", prev.isNull() | (sec - prev > gap_seconds))
        .filter(F.col("__gap_ok"))
        .drop("__gap_ok")
    )


def activity_increment(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "week",
) -> DataFrame:
    """One tick's per-user ACTIVITY SUMMARY — the increment function of
    the maintained retention monitor (``streaming.
    maintained_activity``): ``(user_id, cohort_ms, wks)`` with
    ``cohort_ms`` the epoch-ms of the user's earliest ``bucket``
    truncation in the tick and ``wks`` the sorted distinct bucket
    epochs. Both fold laws are order- AND replay-insensitive (min and
    set-union are idempotent semilattice merges — stronger than the
    additive folds: even a double-applied tick cannot corrupt this
    state), so ticks may arrive in any order and the folded state
    equals the batch summary of the whole ledger. Bounded at
    users × (span/bucket) entries.

    Scale: one user-keyed aggregate with map-side MIN/collect_set
    partials; rows with NULL user or NULL ts are dropped (defined
    behavior, matching :func:`retention_cohorts`'s groupBy/min)."""
    tb = F.unix_millis(F.date_trunc(bucket, F.col(ts_col)))
    return (
        events.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.min(tb).cast("long").alias("cohort_ms"),
            F.array_sort(F.collect_set(tb)).alias("wks"),
        )
    )


def activity_merge(state: DataFrame, inc: DataFrame) -> DataFrame:
    """Semilattice merge of two activity frames of the same users:
    cohort = min, active buckets = set union (sorted). The exact
    cross-tick fold of ``maintained_activity`` — exposed module-level
    so driver keys replay the stream's code."""
    u = inc.unionByName(state.select("user_id", "cohort_ms", "wks"))
    return u.groupBy("user_id").agg(
        F.min("cohort_ms").cast("long").alias("cohort_ms"),
        F.array_sort(
            F.array_distinct(
                F.flatten(F.collect_list("wks"))
            )
        ).alias("wks"),
    )


def retention_from_activity(
    state: DataFrame, bucket: str = "week"
) -> DataFrame:
    """The cohort-retention matrix read from maintained activity state
    ALONE — identical output to :func:`retention_cohorts` over the
    ledger the state summarizes (same date_trunc cohorts, same
    datediff/period arithmetic; pytest-pinned row-for-row): explode
    the per-user bucket sets, bucket by (cohort, period), count. At
    100 TB the batch operator re-dedups the whole event ledger per
    report; this reads users × (span/bucket) metadata rows."""
    days = {"day": 1, "week": 7}[bucket]
    return (
        state.select(
            F.timestamp_millis(F.col("cohort_ms")).alias("__cohort"),
            F.explode("wks").alias("__wk_ms"),
        )
        .select(
            "__cohort",
            (
                F.datediff(
                    F.timestamp_millis(F.col("__wk_ms")), F.col("__cohort")
                )
                / days
            )
            .cast("long")
            .alias("period"),
        )
        .groupBy("__cohort", "period")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("__cohort").alias("cohort_start"), "period", "n_users"
        )
    )


def funnel_fold_increment(
    state: DataFrame | None,
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
) -> DataFrame:
    """One funnel tick against the per-user walk state — the stateful
    companion of :func:`funnel_counts`: state rows are the greedy
    walk's accumulator ``(user_id, depth, t1_us, tprev_us, last_us)``
    (``last_us`` = latest funnel-relevant event seen, for the order
    contract), a tick folds its per-user (t, tp)-sorted events forward
    with the SAME :func:`_funnel_advance` lambda the batch walk uses,
    and because the walk is a left fold over the time-sorted sequence,
    event-time-ordered ticks decompose it exactly: after any ticks the
    state equals the batch walk of the whole ledger and
    :func:`funnel_from_state` equals :func:`funnel_counts`
    (pytest-pinned). State users without tick events pass through;
    tick users without state start at the zero accumulator.

    PRECONDITION (loud): tick events at ``ts`` strictly BEFORE a
    user's ``last_us`` raise (the append-ledger event-time contract).
    Equal-timestamp events split ACROSS ticks fold in arrival order,
    which can differ from the batch walk's (t, event_type) tie order —
    same-microsecond cross-tick ties are the one documented
    divergence; feeds with meaningful simultaneous events should
    carry a sequence column as ``ts``.

    Scale: one user-keyed aggregate over the tick + a user-keyed join
    against the touched state rows; history is never re-walked."""
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    tick = (
        events.filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col).alias("user_id"),
            F.struct(ts_us.alias("t"), F.col(type_col).alias("tp")).alias(
                "__e"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list("__e")).alias("__evs"),
            F.min(F.col("__e")["t"]).cast("long").alias("__tick_min"),
            F.max(F.col("__e")["t"]).cast("long").alias("__tick_max"),
        )
    )
    if state is None:
        acc0 = _funnel_zero()
        joined = tick.select(
            "user_id", "__evs", "__tick_max",
            F.lit(None).cast("long").alias("__st_last"),
            acc0.alias("__acc0"),
        )
    else:
        st = state.select(
            "user_id",
            F.struct(
                # stored depth is BIGINT; the walk's element_at and the
                # zero accumulator are INT — cast so coalesce unifies
                F.col("depth").cast("int").alias("depth"),
                F.col("t1_us").alias("t1"),
                F.col("tprev_us").alias("tprev"),
            ).alias("__st_acc"),
            F.col("last_us").alias("__st_last"),
        )
        joined = tick.join(st, "user_id", "full_outer")
        # The violation-count JOB needs only per-user min(t) vs the
        # stored last — count it from a min-only aggregate of the raw
        # tick (r17), not from ``joined``: the old check paid the full
        # collect_list + array_sort tick aggregate once in the count
        # job and again in the final plan. Inner join ≡ the old
        # "both sides non-null" full-outer filter.
        tick_mins = (
            events.filter(F.col(type_col).isin(steps))
            .groupBy(F.col(user_col).alias("user_id"))
            .agg(F.min(ts_us).cast("long").alias("__tick_min"))
        )
        viol = (
            tick_mins.join(
                st.select("user_id", "__st_last"), "user_id"
            )
            .filter(F.col("__tick_min") < F.col("__st_last"))
            .count()
        )
        if viol:
            raise ValueError(
                f"funnel_fold_increment: {viol} user(s) have tick "
                "events before their walk's last seen event — ticks "
                "must arrive in per-user event-time order (the "
                "append-ledger contract)"
            )
        joined = joined.select(
            "user_id",
            "__evs",
            "__tick_max",
            "__st_last",
            F.coalesce(F.col("__st_acc"), _funnel_zero()).alias("__acc0"),
        )
    advance = _funnel_advance(steps, within_seconds)
    acc = F.aggregate(
        F.coalesce(
            F.col("__evs"),
            F.array().cast("array<struct<t:bigint,tp:string>>"),
        ),
        F.col("__acc0"),
        advance,
    )
    return joined.select(
        "user_id",
        acc["depth"].cast("long").alias("depth"),
        acc["t1"].cast("long").alias("t1_us"),
        acc["tprev"].cast("long").alias("tprev_us"),
        F.greatest(
            F.coalesce(F.col("__tick_max"), F.lit(-(1 << 62))),
            F.coalesce(F.col("__st_last"), F.lit(-(1 << 62))),
        )
        .cast("long")
        .alias("last_us"),
    )


def funnel_from_state(state: DataFrame, steps: list[str]) -> DataFrame:
    """Per-step funnel completion counts read from
    :func:`funnel_fold_increment` state ALONE — identical output to
    :func:`funnel_counts` over the ledger the state summarizes (same
    depth ≥ k counting, same all-steps frame with zero rows;
    pytest-pinned). At 100 TB the batch walk re-sorts every user's
    whole history per report; this reads one accumulator row per
    funnel-active user."""
    nsteps = len(steps)
    counts = state.agg(
        *[
            F.sum((F.col("depth") >= k + 1).cast("long")).alias(f"__n{k}")
            for k in range(nsteps)
        ]
    )
    per_step = F.array(
        *[
            F.struct(
                F.lit(k + 1).alias("step"),
                F.lit(steps[k]).alias("event_type"),
                F.coalesce(F.col(f"__n{k}"), F.lit(0)).alias("n_users"),
            )
            for k in range(nsteps)
        ]
    )
    return counts.select(F.explode(per_step).alias("__s")).select(
        F.col("__s.step").alias("step"),
        F.col("__s.event_type").alias("event_type"),
        F.col("__s.n_users").alias("n_users"),
    )


def transitions_increment(
    last: DataFrame | None,
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> tuple[DataFrame, DataFrame]:
    """One Markov-transition tick against the per-user LAST-EVENT
    state: returns ``(pair_counts, new_last)``.

    ``last`` rows are ``(user_id, last_type, last_us, last_id)`` — the
    final event each user has emitted so far (None for the first
    tick). The tick's pair counts are its within-tick consecutive
    pairs PLUS one boundary pair per continuing user (stored last →
    first tick event), so summed across event-time-ordered ticks the
    counts equal the batch :func:`event_transitions` pair counts of
    the whole ledger exactly (pytest-pinned): pairing is adjacency in
    the time-sorted sequence, and ordered ticks partition that
    sequence. Counts are ADDITIVE (the cross-tick fold is plain
    summation, |types|² rows); ``new_last`` carries every touched or
    pass-through user's final event.

    PRECONDITION (loud): tick events at ``ts`` strictly before a
    user's ``last_us`` raise; same-microsecond ties split across
    ticks order by arrival (the funnel-family caveat).

    Scale: one user-keyed window over the tick + a user-keyed join
    against touched state; history is never re-paired."""
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("__tp"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.col(order_tiebreak).cast("long").alias("__eid"),
    )
    w = Window.partitionBy("user_id").orderBy("__us", "__eid")
    within = (
        ev.select("__tp", F.lead("__tp").over(w).alias("__next"))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col("__tp").alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # First/last event per user via ONE windowless partial-aggregatable
    # groupBy instead of the row_number/count window passes (r17):
    # (__us, __eid) is unique per user, so min_by/max_by on that
    # ordering struct pick exactly the __rn == 1 / __rn == __cnt rows
    # of the window formulation. Lazily checkpointed: the frame is
    # per-user bounded and is read by the violation-count JOB as well
    # as boundary + new_last in the final plan — one computation
    # instead of three window passes plus one more in the count job.
    ord_key = F.struct("__us", "__eid")
    ends = (
        ev.groupBy("user_id")
        .agg(
            F.min_by(F.struct("__tp", "__us"), ord_key).alias("__f"),
            F.max_by(
                F.struct("__tp", "__us", "__eid"), ord_key
            ).alias("__l"),
        )
        .localCheckpoint(eager=False)
    )
    firsts = ends.select(
        "user_id",
        F.col("__f.__tp").alias("__first_tp"),
        F.col("__f.__us").alias("__first_us"),
    )
    lasts = ends.select(
        "user_id",
        F.col("__l.__tp").alias("last_type"),
        F.col("__l.__us").alias("last_us"),
        F.col("__l.__eid").alias("last_id"),
    )
    if last is None:
        return within, lasts
    st = last.select("user_id", "last_type", "last_us", "last_id")
    joined = firsts.join(st, "user_id", "inner")
    viol = joined.filter(F.col("__first_us") < F.col("last_us")).count()
    if viol:
        raise ValueError(
            f"transitions_increment: {viol} user(s) have tick events "
            "before their stored last event — ticks must arrive in "
            "per-user event-time order (the append-ledger contract)"
        )
    boundary = joined.groupBy(
        F.col("last_type").alias("from_type"),
        F.col("__first_tp").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    counts = (
        within.unionByName(boundary)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    # pass-through: state users without tick events keep their last
    new_last = lasts.unionByName(
        st.join(lasts.select("user_id"), "user_id", "left_anti")
    )
    return counts, new_last


def transitions_from_counts(counts: DataFrame) -> DataFrame:
    """The row-stochastic transition matrix read from folded pair
    counts ALONE — identical to :func:`event_transitions` over the
    ledger the counts summarize (same per-source normalization;
    pytest-pinned): |types|² metadata rows, the ledger never
    re-paired."""
    per_src = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        (F.col("n") / F.sum("n").over(per_src)).alias("p"),
    )


def debounce_increment(
    last: DataFrame | None,
    events: DataFrame,
    time_col: str = "ts",
    gap_seconds: float = 600.0,
    group_cols: list[str] | None = None,
    order_tiebreak: str = "event_id",
) -> tuple[DataFrame, DataFrame]:
    """One debounce tick against the per-group LAST-RAW-EVENT state:
    returns ``(kept_rows, new_last)``.

    ``last`` rows are ``(group_cols…, last_us)`` — the final RAW event
    time each group has emitted so far. A tick event survives iff it
    arrives more than ``gap_seconds`` after its immediate predecessor
    (previous tick event, or the stored ``last_us`` for each group's
    first tick event) — exactly :func:`debounce_events`' lag rule, so
    on event-time-ordered ticks the union of kept rows equals the
    batch debounce of the whole ledger row-for-row (pytest-pinned):
    suppression depends only on the previous RAW event, and ordered
    ticks partition the per-group sequence. Kept rows are therefore
    APPEND-ONLY output (a survivor never un-survives) and state is one
    row per group.

    PRECONDITION (loud): a tick event before its group's ``last_us``
    raises (the append-ledger contract); same-microsecond cross-tick
    ties order by arrival (the funnel-family caveat). NULL timestamps
    (r18, pinned): the violation check compares the group's first
    NON-NULL tick time — NULL-ts rows never trip it (they sort first
    in the window and carry no instant), but a later real event out
    of order now raises even when a NULL-ts row precedes it in the
    window (the r17 window-first-row check silently passed that case;
    stricter is the correct reading of the append contract).

    Scale: one group-keyed window over the tick + the touched-state
    join; history is never re-scanned."""
    group_cols = group_cols or ["user_id", "event_type"]
    us = F.unix_micros(F.col(time_col).cast("timestamp"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(time_col), F.col(order_tiebreak)
    )
    seq = events.withColumn("__us", us).withColumn(
        "__prev", F.lag("__us").over(w)
    )
    # Per-group first/last tick times via one windowless partial-
    # aggregatable groupBy (r17), lazily checkpointed: the violation-
    # count JOB reads __first (only a group's first row — lag NULL —
    # can precede the stored last, and min(__us) IS that row's time
    # since __us is monotone in the (ts, tiebreak) order), and
    # new_last reads __last — neither pays the lag window the old
    # formulation computed once per reference plus once in the count
    # job. ``kept`` keeps the one real window.
    tickends = (
        events.withColumn("__us", us)
        .groupBy(*group_cols)
        .agg(
            F.min("__us").cast("long").alias("__first_us"),
            F.max("__us").cast("long").alias("last_us"),
        )
        .localCheckpoint(eager=False)
    )
    if last is not None:
        st = last.select(*group_cols, F.col("last_us").alias("__st_us"))
        viol = (
            tickends.join(st, group_cols)
            .filter(F.col("__first_us") < F.col("__st_us"))
            .count()
        )
        if viol:
            raise ValueError(
                f"debounce_increment: {viol} group(s) have tick events "
                "before their stored last event — ticks must arrive in "
                "per-group event-time order (the append-ledger "
                "contract)"
            )
        seq = seq.join(st, group_cols, "left").withColumn(
            "__prev", F.coalesce("__prev", "__st_us")
        ).drop("__st_us")
    # the same float-seconds comparison as the batch lag rule
    kept = seq.filter(
        F.col("__prev").isNull()
        | (
            F.col("__us") / F.lit(1e6) - F.col("__prev") / F.lit(1e6)
            > gap_seconds
        )
    ).drop("__us", "__prev")
    ticklast = tickends.select(*group_cols, "last_us")
    if last is None:
        return kept, ticklast
    # fold the stored time in: a group whose tick rows all have NULL
    # timestamps has a NULL tick last and must keep its stored one
    new_last = ticklast.join(st, group_cols, "full").select(
        *group_cols, F.greatest("last_us", "__st_us").alias("last_us")
    )
    return kept, new_last
