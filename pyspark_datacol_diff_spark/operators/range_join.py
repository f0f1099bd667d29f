"""Bounded range (interval) join — the scale shape for time-window joins.

Reference scope note: the reference library's only join is the diff's
full-outer equi-join (`/root/reference/find_datacol_diff.py:96`); this is
a north-star extension for event-correlation workloads.

A condition like ``r.ts BETWEEN l.ts + min_delta AND l.ts + max_delta``
has no equi-key, so Spark plans it as BroadcastNestedLoopJoin — O(|L|x|R|)
per key group and a driver-killer at scale. With a BOUNDED window the
classic fix applies: bucket time into bins at least as wide as the
window, join on (keys, bin) — each left row probes at most two bins —
then apply the exact range predicate. Cost: one shuffle per side on
(keys, bin), pair blow-up limited to rows actually within two bins of
each other. This is the same strategy behind "bin-bucketed" range joins
in warehouse engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import PPM

_BIN = "__rj_bin"
_LTS = "__rj_lts"
_RTS = "__rj_rts"

_US = 1_000_000


def _to_micros(c: Column, dtype: str) -> Column:
    if dtype.startswith("timestamp"):
        return F.unix_micros(c)
    return (c.cast("double") * _US).cast("long")


def bounded_range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    *,
    min_delta: float,
    max_delta: float,
    suffix: str = "_r",
) -> DataFrame:
    """Inner-join pairs where ``right_ts - left_ts`` lies in
    ``[min_delta, max_delta]`` seconds (inclusive) and the ``on`` keys
    match. Timestamp columns may be TIMESTAMP or numeric seconds.

    ``right_cols`` are carried from the right side with ``suffix``; all
    left columns pass through. Requires ``max_delta > min_delta`` (a
    degenerate zero-width window is an equi-join on the timestamp —
    express it directly).
    """
    if not max_delta > min_delta:
        raise ValueError(
            f"max_delta must exceed min_delta, got [{min_delta}, {max_delta}]"
        )
    lo_us = int(round(min_delta * _US))
    hi_us = int(round(max_delta * _US))
    bin_us = hi_us - lo_us

    ldt = dict(left.dtypes)[left_ts]
    rdt = dict(right.dtypes)[right_ts]

    l_us = _to_micros(F.col(left_ts), ldt)
    r_us = _to_micros(F.col(right_ts), rdt)

    # Each left row's admissible right window spans exactly bin_us, so it
    # overlaps at most two bins of that width.
    l = left.withColumn(_LTS, l_us).withColumn(
        _BIN,
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col(_LTS) + lo_us) / F.lit(bin_us)),
                    F.floor((F.col(_LTS) + hi_us) / F.lit(bin_us)),
                )
            )
        ),
    )
    r = right.select(
        *on,
        r_us.alias(_RTS),
        *[F.col(c).alias(c + suffix) for c in right_cols],
    ).withColumn(_BIN, F.floor(F.col(_RTS) / F.lit(bin_us)))

    joined = l.join(r, on=on + [_BIN], how="inner").filter(
        (F.col(_RTS) >= F.col(_LTS) + lo_us)
        & (F.col(_RTS) <= F.col(_LTS) + hi_us)
    )
    return joined.select(*left.columns, *[c + suffix for c in right_cols])


def interval_max_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    *,
    grain: str = "hour",
    bucket_fn=None,
    out_col: str = "max_concurrency",
) -> DataFrame:
    """Peak number of simultaneously-open intervals per time ``grain`` —
    the classic sweep-line, distributed. Semantics are HALF-OPEN
    ``[start, end)``: an interval ending exactly when another starts
    does not overlap it (the +1/-1 deltas at the same instant cancel
    inside the RANGE-frame prefix sum), and zero-length intervals
    never register.

    Scale shape (the reason this is an operator and not a window
    one-liner): the naive ``sum(delta) OVER (ORDER BY t)`` is a GLOBAL
    sort-window — one task owns the whole corpus. Here the sweep is

    1. explode intervals to (t, +1)/(t, -1) delta events — a
       projection;
    2. :func:`~.incremental.running_total` over the deltas — per-bucket
       parallel prefix sums + a bounded per-bucket offset gather (the
       two-phase scan dataflow), ``bucket_fn`` defaulting to epoch-day
       (monotone in t, as the contract requires);
    3. collapse to ``grain``: peak-at-points and end-of-grain level per
       grain cell, then the level standing at cell ENTRY (a peak
       inherited from a previous cell must not be missed) comes from a
       lag window PARTITIONED BY DAY (at most 24 hour-cells per
       partition — never a SinglePartition window) plus a day-grain
       driver gather for the cross-day seam: one row per present day,
       bounded by the calendar, the same two-phase shape (and the same
       bounded-collect policy) as ``running_total`` itself.

    Returns ``(grain_start, max_concurrency)`` for every grain cell
    containing at least one interval boundary.
    """
    from pyspark.sql import Window

    from .incremental import running_total

    if bucket_fn is None:
        bucket_fn = lambda c: F.to_date(c)  # epoch-day: monotone in t
    deltas = df.select(
        F.col(start_col).alias("__t"), F.lit(1).alias("__d")
    ).unionAll(
        df.select(F.col(end_col).alias("__t"), F.lit(-1).alias("__d"))
    )
    run = running_total(
        deltas, "__t", "__d", bucket=bucket_fn(F.col("__t")), out_col="__run"
    )
    per_cell = (
        run.groupBy(F.date_trunc(grain, "__t").alias("grain_start"))
        .agg(
            F.max("__run").alias("__peak_at_points"),
            # RANGE-frame ties share one __run value, so max_by is stable
            F.max_by("__run", "__t").alias("__level_at_exit"),
            F.min("__t").alias("__first_t"),
        )
        # branch point: the day-exit gather below materializes this
        # eagerly and the returned frame re-reads it — without the
        # cache the whole prefix-scan pipeline runs twice. The result
        # is returned lazily, so the persist cannot be released here;
        # callers that are done with the result should
        # ``spark.catalog.clearCache()`` (the ngram_jaccard_pairs
        # contract). Size is calendar-bounded (one row per grain cell),
        # so the pinned footprint is tiny.
        .persist()
    )
    # cross-day seam: the last exit level of each present day, gathered
    # to the driver (one row per day — calendar-bounded), shifted to
    # "level standing when this day opens"
    day_exits = sorted(
        (r["__day"], r["__x"])
        for r in per_cell.groupBy(
            F.to_date("grain_start").alias("__day")
        )
        .agg(F.max_by("__level_at_exit", "grain_start").alias("__x"))
        .collect()
    )
    entry_of: dict = {}
    prev = 0
    for day, x in day_exits:
        entry_of[day] = prev
        prev = x
    day_entry = F.create_map(
        *[F.lit(x) for kv in entry_of.items() for x in kv]
    )
    w_day = Window.partitionBy(F.to_date("grain_start")).orderBy(
        "grain_start"
    )
    # the inherited level stands only until the cell's first event: an
    # event AT grain_start already folds it into that point's __run
    # (half-open — an interval ending exactly there no longer counts)
    inherited = F.when(
        F.col("__first_t") > F.col("grain_start"),
        F.coalesce(
            F.lag("__level_at_exit").over(w_day),
            day_entry[F.to_date("grain_start")],
        ),
    )
    return per_cell.select(
        "grain_start",
        F.greatest(inherited, F.col("__peak_at_points"))
        .cast("long")
        .alias(out_col),
    )


def position_attribution(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    *,
    gap_minutes: int = 30,
    first_pct: int = 40,
    last_pct: int = 40,
    tiebreak_cols: list[str] | None = None,
    out_col: str = "credit_ppm",
) -> DataFrame:
    """POSITION-BASED (U-shaped) multi-touch attribution in exact
    integer ppm: sessionize each key's touch stream by ``gap_minutes``
    inactivity (the gaps-and-islands shape — lag + cumulative break
    sum, one keyed sort), then allocate each session's ``PPM``
    credit 40/20/40 (first / middles / last, configurable) with every
    division exact and every remainder accounted:

    - 1 touch: all of ``PPM``;
    - 2 touches: an exact half each (+ remainder to the first);
    - n >= 3: ``first_pct``% to the first, ``last_pct``% to the last,
      the middle pool split by integer division over the n-2 middles
      with the pool's remainder going to the FIRST touch — so every
      session's credits sum to exactly ``PPM`` (property-
      testable, engine-replayable; float attribution never adds up).

    Scale shape: one keyed window sort (partition by key) computes the
    session break, the running session id, and — within a second
    window over (key, session) — the position and size; everything
    else is a projection. No joins, no session-grain shuffle back.

    Returns the input columns plus ``(session_no, touch_no,
    n_touches, credit_ppm)``.
    """
    if gap_minutes < 1:
        raise ValueError(f"gap_minutes must be >= 1, got {gap_minutes}")
    if not (0 <= first_pct and 0 <= last_pct and first_pct + last_pct <= 100):
        raise ValueError(
            "first_pct/last_pct must be non-negative and sum to <= 100, "
            f"got {first_pct}/{last_pct}"
        )
    from pyspark.sql import Window

    # duplicate timestamps make a ts-only order nondeterministic (the
    # boundary sweep's tie case) — callers pass a unique tiebreak
    order = [ts_col, *(tiebreak_cols or [])]
    wk = Window.partitionBy(*key_cols).orderBy(*order)
    brk = F.when(
        F.lag(ts_col).over(wk).isNull()
        | (
            F.unix_micros(F.col(ts_col))
            - F.unix_micros(F.lag(ts_col).over(wk))
            > gap_minutes * 60_000_000
        ),
        1,
    ).otherwise(0)
    sess = df.withColumn("__brk", brk).withColumn(
        "session_no", F.sum("__brk").over(wk)
    )
    ws = Window.partitionBy(*key_cols, "session_no").orderBy(*order)
    wsz = Window.partitionBy(*key_cols, "session_no")
    sess = (
        sess.withColumn("touch_no", F.row_number().over(ws))
        .withColumn("n_touches", F.count(F.lit(1)).over(wsz))
        .drop("__brk")
    )
    first_c = PPM * first_pct // 100
    last_c = PPM * last_pct // 100
    mid_pool = PPM - first_c - last_c
    half = PPM // 2
    n = F.col("n_touches")
    mid_each = F.expr(f"{mid_pool}L DIV (n_touches - 2)")
    mid_rem = F.lit(mid_pool) - mid_each * (n - 2)
    credit = (
        F.when(n == 1, F.lit(PPM))
        .when(
            n == 2,
            F.when(F.col("touch_no") == 1, PPM - half).otherwise(
                half
            ),
        )
        .otherwise(
            F.when(F.col("touch_no") == 1, F.lit(first_c) + mid_rem)
            .when(F.col("touch_no") == n, F.lit(last_c))
            .otherwise(mid_each)
        )
    )
    return sess.withColumn(out_col, credit.cast("long"))


def transition_counts(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    state_col: str,
    *,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """First-order MARKOV TRANSITION matrix over per-key event streams
    in exact integers: each key's events are ordered once, consecutive
    (from_state -> to_state) steps are counted, and each row carries
    the transition probability as ``n * PPM DIV n_from`` (row-
    normalized, truncating — the engine-replayable rendering of the
    empirical transition matrix a journey-analysis / next-event-
    prediction pipeline wants; float normalization never sums
    reproducibly).

    Scale shape: ONE keyed window sort (partition by key, order by
    (ts, tiebreaks)) produces the lag pairs as a projection; the
    transition aggregate is state-pair-grain (|states|^2 rows, tiny by
    construction); row totals attach by a broadcast join on
    from_state — never a second pass over the events and never a
    window over the event stream. Duplicate timestamps make a ts-only
    order nondeterministic — callers pass a unique tiebreak, the same
    contract as :func:`position_attribution`.

    Returns ``(from_state, to_state, n, p_ppm)``.

    Reference scope note: no sequence analytics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    order = [ts_col, *(tiebreak_cols or [])]
    wk = Window.partitionBy(*key_cols).orderBy(*order)
    steps = (
        df.select(
            F.lag(state_col).over(wk).alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .filter(F.col("from_state").isNotNull())
    )
    counts = steps.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_state").agg(
        F.sum("n").alias("__n_from")
    )
    return (
        counts.join(F.broadcast(totals), "from_state")
        .select(
            "from_state",
            "to_state",
            "n",
            F.expr(f"n * {PPM}L DIV __n_from").alias("p_ppm"),
        )
    )


def seasonality_lift(
    df: DataFrame,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """HOUR-OF-WEEK SEASONALITY per category in exact integer ppm —
    the observed-over-expected lift a capacity planner or anomaly
    baseline wants: for each (category, hour-of-week) cell,
    ``lift_ppm = n_cell * n_total * PPM DIV (n_type * n_hour)``
    (> PPM: the category over-indexes in that hour relative to
    BOTH its own volume and the hour's overall traffic — the
    independence-null lift, same exact-rational rendering as the PMI
    and association-rule scores; 128-bit DECIMAL(38,0) arithmetic so
    warehouse-scale counts cannot overflow the product).

    Hour-of-week is ``(dow - 1) * 24 + hour`` with dow 1 = Sunday
    (Spark ``dayofweek``), so how ranges 0..167 anchored on Sunday
    00:00 — the convention is part of the output contract.

    Scale shape: ONE cell-grain aggregate over the events (map-side
    combine collapses to <= |types| * 168 rows before the shuffle);
    the three marginals are aggregates OVER THE CELL RELATION
    (type-grain, hour-grain, scalar) broadcast back — the raw stream
    is scanned exactly once, and no window ever partitions by a
    low-cardinality key.

    Returns ``(type, how, n, lift_ppm)``.

    Reference scope note: no time-series analytics exist in the
    reference (SURVEY.md §2.7); north-star extension surface.
    """
    cells = (
        df.select(
            F.col(type_col).alias("type"),
            hour_of_week(ts_col).alias("how"),
        )
        .groupBy("type", "how")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return seasonality_lift_from_cells(cells)


def hour_of_week(ts_col: str) -> Column:
    """Hour-of-week 0..167 anchored on Sunday 00:00 (Spark
    ``dayofweek`` 1 = Sunday) — the seasonality operators' shared
    bucketing, exposed so a streaming pre-aggregation buckets
    identically to the batch path."""
    return (
        (F.dayofweek(F.col(ts_col)) - F.lit(1)) * F.lit(24)
        + F.hour(F.col(ts_col))
    ).cast("long")


def seasonality_lift_from_cells(
    cells: DataFrame,
) -> DataFrame:
    """The marginals-and-lift stage of :func:`seasonality_lift` over a
    pre-aggregated ``(type, how, n)`` cell relation — the entry point
    for continuously-maintained cells (a streaming rollup keyed on
    (type, how) feeds its state table straight in; the lift is always
    computed from the CURRENT state, never by rescanning history).
    Same exact-integer contract as the batch path."""
    by_type = cells.groupBy("type").agg(F.sum("n").alias("__n_type"))
    by_hour = cells.groupBy("how").agg(F.sum("n").alias("__n_hour"))
    total = cells.select(F.sum("n").alias("__n_total"))
    return (
        cells.join(F.broadcast(by_type), "type")
        .join(F.broadcast(by_hour), "how")
        .crossJoin(F.broadcast(total))
        .select(
            "type",
            "how",
            "n",
            F.expr(
                f"CAST(CAST(n AS DECIMAL(38,0)) * __n_total * {PPM} "
                f"DIV (CAST(__n_type AS DECIMAL(38,0)) * __n_hour) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    right_cols: list[str],
    on: list[str] | None = None,
    bucket_seconds: int = 86400,
    suffix: str = "_r",
    max_buckets_per_row: int = 4096,
) -> DataFrame:
    """INTERVAL-OVERLAP JOIN — every (left, right) interval pair that
    overlaps under half-open semantics (``l_start < r_end AND r_start
    < l_end``; touching endpoints do NOT match, zero-length intervals
    are points), with the exact overlap length in microseconds
    attached. The incident-correlation / exposure-attribution join
    (sessions x outage windows, treatments x observation periods) that
    a plain equi-join cannot express.

    Scale shape — never an unbounded theta join: both sides explode to
    the fixed-width TIME BUCKETS they cover (``sequence`` over epoch
    buckets of ``bucket_seconds``; per-row blow-up = interval length /
    bucket width, so pick a bucket comparable to typical interval
    length), the join is an EQUI-join on (``on`` keys + bucket), and a
    pair overlapping several buckets is kept exactly once WITHOUT a
    distinct: only the bucket containing the overlap's START survives
    (``bucket == bucket(greatest(l_start, r_start))`` — the standard
    dedup-by-ownership rule; a distinct would shuffle the joined
    relation a second time). Catalyst plans the bucket equi-join like
    any other join — broadcast when one side is small, shuffle-hash
    otherwise.

    Returns every left column, ``right_cols`` suffixed, and
    ``overlap_us >= 0``. Rows whose interval covers more than
    ``max_buckets_per_row`` buckets raise at execution time (a
    month-long interval at hour buckets is 720 rows of blow-up each —
    loud failure beats a silently quadratic job; raise the limit or
    widen ``bucket_seconds`` when long intervals are genuine).
    Internal working columns ``__b``/``__rs``/``__re``/``__lsu``/
    ``__leu``/``__ovu`` are reserved: a collision raises (the
    running_total convention) rather than silently overwriting.

    Reference scope note: the reference's only join is the diff's
    full-outer equi-join (``find_datacol_diff.py:96``); north-star
    extension surface.
    """
    if bucket_seconds < 1:
        raise ValueError(f"bucket_seconds must be >= 1, got {bucket_seconds}")
    if max_buckets_per_row < 1:
        raise ValueError(
            f"max_buckets_per_row must be >= 1, got {max_buckets_per_row}"
        )
    bucket_us = bucket_seconds * 1_000_000
    keys = list(on or [])
    reserved = {"__b", "__rs", "__re", "__lsu", "__leu", "__ovu"}
    bad_left = reserved & set(left.columns)
    bad_right = reserved & ({*keys, *(c + suffix for c in right_cols)})
    if bad_left or bad_right:
        raise ValueError(
            f"reserved working column(s) {sorted(bad_left | bad_right)} "
            "collide with input/output names; rename them before "
            "interval_overlap_join (running_total's convention)"
        )

    def bucket_of(us_col: str) -> Column:
        # DIV over a PRE-ALIASED internal column: exact integer
        # semantics without interpolating user column names into SQL
        # text (names needing backticks would break raw inlining)
        return F.expr(f"{us_col} DIV {bucket_us}")

    def guarded_end(start_b: Column, end_b: Column, side: str) -> Column:
        # blow-up guard: raise AT EXECUTION on the offending row
        return F.when(
            end_b - start_b < F.lit(max_buckets_per_row),
            end_b,
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"interval_overlap_join: a {side} interval covers "
                        f">= {max_buckets_per_row} buckets of "
                        f"{bucket_seconds}s ("
                    ),
                    (end_b - start_b + 1).cast("string"),
                    F.lit(
                        " buckets) — widen bucket_seconds or raise "
                        "max_buckets_per_row"
                    ),
                )
            )
        )

    # inverted (end < start) intervals are dropped, not joined: Spark's
    # sequence() DESCENDS when start > stop, which would enumerate
    # buckets the interval does not cover
    lb = (
        left.filter(F.col(left_end) >= F.col(left_start))
        .withColumn("__lsu", F.unix_micros(F.col(left_start)))
        .withColumn("__leu", F.unix_micros(F.col(left_end)))
        .withColumn(
            "__b",
            F.explode(
                F.sequence(
                    bucket_of("__lsu"),
                    guarded_end(bucket_of("__lsu"), bucket_of("__leu"), "left"),
                )
            ),
        )
    )
    rb = (
        right.filter(F.col(right_end) >= F.col(right_start))
        .select(
            *keys,
            F.unix_micros(F.col(right_start)).alias("__rs"),
            F.unix_micros(F.col(right_end)).alias("__re"),
            *[F.col(c).alias(c + suffix) for c in right_cols],
        )
        .withColumn(
            "__b",
            F.explode(
                F.sequence(
                    bucket_of("__rs"),
                    guarded_end(bucket_of("__rs"), bucket_of("__re"), "right"),
                )
            ),
        )
    )
    # the overlap's start (in micros) drives BOTH the ownership dedup
    # (only the bucket containing it keeps the pair — no distinct) and
    # the overlap length, so it is computed once as __ovu
    joined = (
        lb.join(rb, [*keys, "__b"])
        .filter((F.col("__lsu") < F.col("__re")) & (F.col("__rs") < F.col("__leu")))
        .withColumn("__ovu", F.greatest(F.col("__lsu"), F.col("__rs")))
        .filter(F.col("__b") == bucket_of("__ovu"))
    )
    overlap = F.least(F.col("__leu"), F.col("__re")) - F.col("__ovu")
    return joined.select(
        *left.columns,
        *[c + suffix for c in right_cols],
        overlap.alias("overlap_us"),
    )


def interarrival_stats(
    df: DataFrame,
    key_cols,
    ts_col: str,
    *,
    order_cols=None,
) -> DataFrame:
    """Per-entity INTER-ARRIVAL-TIME census in exact microseconds — the
    activity-cadence feature behind churn models, bot detection (a
    near-constant gap is automation), and capacity planning: for every
    entity with >= 2 events, the count / min / max / discrete-median of
    consecutive-event gaps.

    Determinism: ties in ``ts_col`` are broken by ``order_cols``
    (default ``ts_col`` alone — pass an id column when timestamps can
    collide, or two tied rows make the lag order engine-dependent).
    Gaps are ``unix_micros`` differences (exact BIGINTs); the median is
    ``percentile_disc(0.5)`` — a discrete order statistic both engines
    select identically (the pctile_by_type convention).

    Scale shape: ONE entity-partitioned lag window (each entity's
    timeline sorts within its own partition — the scale-safe window
    class) feeding one group-keyed aggregate with map-side combine. No
    global sort, no self-join.

    Returns ``(*key_cols, n_gaps, min_gap_us, max_gap_us, sum_gap_us,
    p50_gap_us)``.

    Reference scope note: no window functions exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    keys = list(key_cols)
    extra = [c for c in (order_cols or []) if c != ts_col]
    w = Window.partitionBy(*keys).orderBy(
        F.col("__us"), *[F.col(c) for c in extra]
    )
    gaps = (
        df.select(
            *keys, *extra, F.unix_micros(F.col(ts_col)).alias("__us")
        )
        .withColumn("__gap", F.col("__us") - F.lag("__us").over(w))
        .filter(F.col("__gap").isNotNull())
    )
    return gaps.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("__gap").alias("min_gap_us"),
        F.max("__gap").alias("max_gap_us"),
        F.sum("__gap").alias("sum_gap_us"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY __gap)"
        ).cast("long").alias("p50_gap_us"),
    )


def funnel_windowed(
    df: DataFrame,
    key_cols,
    ts_col: str,
    type_col: str,
    stages,
    *,
    within_seconds: int,
    tiebreak_cols=None,
) -> DataFrame:
    """TIME-CONSTRAINED ordered funnel — the product-analytics
    conversion census one rung stricter than :func:`funnel` order-only
    matching: stage k counts only when it happens strictly AFTER the
    entity's most recent QUALIFIED stage k-1 event AND within
    ``within_seconds`` of it (the attribution-window semantics real
    funnels use: a purchase six months after the click is not that
    click's conversion). Any number of stages >= 2 (generalized in
    round 10 from the original 3-stage shape — VERDICT r09 #8): the
    chained-running-max formulation stays single-sort at every depth.

    Scale shape — ONE entity-keyed sort shared by every stage: stage-1
    presence is a running max of (ts when type = stages[0]) over
    strictly-preceding rows; a stage-k row qualifies when the latest
    QUALIFIED stage-(k-1) timestamp is within the window (the LATEST is
    the nearest, so "latest within window" == "any within window");
    each stage chains off the running max of the previous stage's
    qualified timestamps. All windows share one (keys, ts, tiebreaks)
    sort; the output is one final grain-free aggregate.

    Returns one row ``(n_stage1, ..., n_stage<len(stages)>)`` —
    distinct entities whose funnel reached each stage under the
    constraint.

    Reference scope note: no window functions exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    stages = list(stages)
    if len(stages) < 2:
        raise ValueError(f"need >= 2 stages, got {len(stages)}")
    if len(set(stages)) != len(stages):
        raise ValueError(f"stages must be distinct, got {stages}")
    if within_seconds < 1:
        raise ValueError(f"within_seconds must be >= 1, got {within_seconds}")
    keys = list(key_cols)
    ties = list(tiebreak_cols or [])
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(ts_col, *ties)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    win_us = within_seconds * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    cur = df.select(*keys, ts_col, *ties, F.col(type_col).alias("__t"))
    reached = [(F.col("__t") == stages[0]).cast("long").alias("__r1")]
    # __last{k} = running max of stage-k QUALIFIED timestamps over
    # strictly-preceding rows; stage 1 qualifies by type alone
    cur = cur.withColumn(
        "__last1", F.max(F.when(F.col("__t") == stages[0], us)).over(w_prev)
    )
    for k in range(2, len(stages) + 1):
        qk = (
            (F.col("__t") == stages[k - 1])
            & F.col(f"__last{k - 1}").isNotNull()
            & (us - F.col(f"__last{k - 1}") <= win_us)
        )
        reached.append(qk.cast("long").alias(f"__r{k}"))
        if k < len(stages):
            cur = cur.withColumn(
                f"__last{k}", F.max(F.when(qk, us)).over(w_prev)
            )
    cur = cur.select(*keys, *reached)
    per_key = cur.groupBy(*keys).agg(
        *[
            F.max(f"__r{k}").alias(f"__m{k}")
            for k in range(1, len(stages) + 1)
        ]
    )
    return per_key.agg(
        *[
            F.sum(f"__m{k}").alias(f"n_stage{k}")
            for k in range(1, len(stages) + 1)
        ]
    )


def seasonal_residual_census(
    df: DataFrame,
    type_col: str,
    ts_col: str,
    value_col: str,
    *,
    threshold: int,
) -> DataFrame:
    """SEASONALITY-ADJUSTED anomaly census — outliers measured against
    the value's own hour-of-week baseline instead of a global fence: a
    $400 checkout at Friday peak is normal, the same value at 4am
    Tuesday is the anomaly a global IQR fence misses. Expected value
    per (type, hour-of-week) cell = integer mean ``sum DIV n`` over
    the cell (trunc division, DuckDB ``//``); each row's residual is
    ``value - expected``; the census reports, per type, the row count,
    max |residual|, and how many rows exceed ``threshold``.

    ``value_col`` must be an exact integer (cents). Scale shape: one
    (type, how)-keyed cell aggregate (bounded at |types| x 168 rows but
    data-derived, so the join back is AQE-sized, not hint-forced — the
    r09 forced_broadcast discipline), one equi-join, one type-keyed
    census aggregate. No windows.

    Returns ``(type, n, max_abs_residual, n_anomalies)``.

    Reference scope note: no time-series analytics exist in the
    reference (SURVEY.md §2.7); north-star extension surface.
    """
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0, got {threshold}")
    base = df.select(
        F.col(type_col).alias("type"),
        hour_of_week(ts_col).alias("how"),
        F.col(value_col).alias("__v"),
    ).filter(F.col("__v").isNotNull())
    cells = base.groupBy("type", "how").agg(
        F.expr("sum(__v) DIV count(1)").alias("__exp")
    )
    resid = base.join(cells, ["type", "how"]).select(
        "type", (F.col("__v") - F.col("__exp")).alias("__r")
    )
    return resid.groupBy("type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("__r"))).alias("max_abs_residual"),
        F.sum((F.abs(F.col("__r")) > threshold).cast("long")).alias(
            "n_anomalies"
        ),
    )


def collapse_consecutive(
    df: DataFrame,
    key_cols,
    ts_col: str,
    type_col: str,
    *,
    tiebreak_cols,
) -> DataFrame:
    """Collapse CONSECUTIVE duplicate events per entity — keep each
    run's FIRST row, drop the repeats: the sequence-hygiene pass
    ("refresh spam", double-fired trackers, at-least-once replays that
    land adjacent) run before funnels/paths/Markov models so a
    triple-fired click cannot count as three steps. Distinct from
    global dedup: the SAME type recurring later (after a different
    event) legitimately survives.

    One entity-keyed window (``lag`` of the type over (ts,
    *tiebreak_cols)) and a null-safe comparison — a leading NULL type
    starts a run like any value, and NULL-vs-NULL adjacent rows ARE a
    run (eqNullSafe). ``tiebreak_cols`` must make the order total or
    "consecutive" is undefined (same contract as the funnel/CUSUM
    family).

    Returns the surviving rows (original columns).

    Reference scope note: no window functions exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    keys = list(key_cols)
    ties = list(tiebreak_cols)
    if not ties:
        raise ValueError("tiebreak_cols must make the event order total")
    for rc in ("__prev", "__has_prev"):
        if rc in df.columns:
            raise ValueError(
                f"collapse_consecutive reserves the column name {rc!r}; "
                "rename it on the input"
            )
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(t) for t in ties]
    )
    prev = F.lag(F.col(type_col)).over(w)
    # __has_prev distinguishes "no previous row" from "previous row with
    # a NULL type": without it a LEADING NULL-typed row compares
    # eqNullSafe-equal to the missing lag and is silently dropped —
    # the docstring's "a leading NULL starts a run" contract (r11 fix,
    # found by the collapse_repeats NULL-group regression test)
    has_prev = F.lag(F.lit(1)).over(w)
    return (
        df.withColumn("__prev", prev)
        .withColumn("__has_prev", has_prev)
        .filter(
            F.col("__has_prev").isNull()
            | ~F.col(type_col).eqNullSafe(F.col("__prev"))
        )
        .drop("__prev", "__has_prev")
    )
