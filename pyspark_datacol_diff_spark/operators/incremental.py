"""Incremental aggregate maintenance: partial-aggregate states that
merge.

The 100 TB rollup problem: a daily report over an append-only event log
should not reaggregate the full history every day. The algebraic
aggregates (count / sum / min / max — and avg as sum/count) decompose:
keep a per-key STATE table holding the partial aggregate of everything
seen so far, aggregate only the new batch (map-side combined, batch-
sized shuffle), and MERGE the two states with the same recombine
functions a shuffle's partial aggregation uses internally. History is
never rescanned; the merge shuffles ``groups_state + groups_batch``
rows — grain-sized, not data-sized.

Invariant (pinned in tests/test_incremental.py):

    merge_agg_states([agg_state(A), agg_state(B)]) == agg_state(A | B)

bit-for-bit for integer/decimal inputs (float sums can differ in the
last ulp under reordering, the usual caveat).

Distinct counts are supported through the mergeable Datasketches HLL
sketch (fn ``hll_distinct``): the state column holds the binary sketch
(``hll_sketch_agg``), merging max-folds registers (``hll_union_agg``),
and the caller estimates at the edge with ``hll_sketch_estimate``.
EXACT count-distinct and exact percentiles are rejected — they need the
raw data.

``aggs`` maps output column -> (input column, fn) with fn in
``count|sum|min|max|hll_distinct`` (the first four share the spec of
:func:`~pyspark_datacol_diff_spark.operators.skew.two_stage_agg`).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SUPPORTED = {"count", "sum", "min", "max", "hll_distinct"}
# how a partial column recombines when two states merge; shared with
# skew.two_stage_agg, whose stage-2 combine is the same operation
_RECOMBINE = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "hll_distinct": F.hll_union_agg,
}


def state_expr(src: str, fn: str):
    """The aggregate expression producing a mergeable partial for
    ``fn`` over ``src`` — the single source of truth for the
    decomposable-aggregate spec (also used by skew.two_stage_agg)."""
    if fn == "count":
        return F.count(F.lit(1))
    if fn == "hll_distinct":
        return F.hll_sketch_agg(F.col(src))
    return getattr(F, fn)(F.col(src))


def _check(aggs: dict[str, tuple[str, str]]) -> None:
    bad = {fn for _, fn in aggs.values()} - _SUPPORTED
    if bad:
        raise ValueError(
            f"incremental aggregation supports {sorted(_SUPPORTED)} "
            f"(the decomposable set), got {sorted(bad)}; exact "
            "count-distinct and percentiles need the raw data — use "
            "hll_distinct for a mergeable distinct sketch, or "
            "operators/histogram.py (histogram + merge_histograms + "
            "histogram_quantiles) for mergeable binned quantiles"
        )


def agg_state(
    df: DataFrame, keys: list[str], aggs: dict[str, tuple[str, str]]
) -> DataFrame:
    """Aggregate ``df`` to a mergeable per-``keys`` state.

    One hash aggregate with map-side combine — the state's rows number
    ``|groups|`` whatever the input size. The result is a plain
    DataFrame (write it to parquet keyed on ``keys`` for the stored
    rollup).
    """
    _check(aggs)
    return df.groupBy(*keys).agg(
        *[state_expr(src, fn).alias(out) for out, (src, fn) in aggs.items()]
    )


def merge_agg_states(
    states: list[DataFrame],
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Merge partial-aggregate states produced by :func:`agg_state`.

    Union (no shuffle) + one grain-sized hash aggregate: counts and
    sums add, mins/maxes fold. Keys present in only some states merge
    correctly — the recombine functions all ignore the absent state
    (there is no row to ignore, not a NULL to mishandle).
    """
    _check(aggs)
    if not states:
        raise ValueError("merge_agg_states needs at least one state")
    cols = keys + list(aggs)
    unioned = states[0].select(cols)
    for s in states[1:]:
        unioned = unioned.unionByName(s.select(cols))
    return unioned.groupBy(*keys).agg(
        *[
            _RECOMBINE[fn](F.col(out)).alias(out)
            for out, (_, fn) in aggs.items()
        ]
    )


def running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    bucket,
    out_col: str = "running_total",
) -> DataFrame:
    """Distributed prefix sum — the scale-honest running total. A
    global ``Window.orderBy`` funnels the whole dataset through ONE
    task (the scale linter flags it as an error); this is the standard
    two-phase alternative, the same dataflow as GPU/MPI scan:

    1. partition the window by a coarse ``bucket`` Column that is
       monotone non-decreasing in ``order_col`` (year of a date, epoch
       day of a timestamp) — each bucket computes its LOCAL prefix sums
       in parallel;
    2. gather the per-bucket totals to the driver — one row per bucket,
       a bounded summary (the repo's collect policy), ordered there
       into cumulative offsets;
    3. add each row's bucket offset back as a literal CASE projection —
       no second shuffle, no single-partition window, no nested-loop
       join.

    The caller owns the monotonicity contract (bucket boundaries must
    align with ``order_col`` order across buckets — a hash bucket would
    interleave and the offsets would be wrong); a NULL bucket key has
    no position in that order and is rejected. Ties in ``order_col``
    use SQL's default RANGE frame semantics — tied rows all carry the
    cumulative sum INCLUDING every tie, deterministically — not the
    arbitrary tie attribution of a ROWS frame. NULL ``value_col`` rows
    contribute nothing, as in SUM OVER. The windowed intermediate is
    persisted (both the offsets gather and the result read it — the
    repo's branch-point convention); it unpins on the session's next
    ``spark.catalog.clearCache()`` or GC.
    """
    from pyspark.sql import Window

    reserved = {"__pb", "__loc"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has reserved column(s) {sorted(reserved)}; "
            "rename them before running_total"
        )
    b = df.withColumn("__pb", bucket)
    w = (
        Window.partitionBy("__pb")
        .orderBy(order_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("__loc", F.sum(value_col).over(w)).persist()
    totals = [
        (r["__pb"], r["t"])
        for r in local.groupBy("__pb").agg(F.sum(value_col).alias("t")).collect()
    ]
    if any(k is None for k, _ in totals):
        local.unpersist()
        raise ValueError(
            "bucket produced NULL keys: a NULL bucket has no position in "
            "the order_col ordering — filter or coalesce such rows first"
        )
    offset_of: dict = {}
    acc = 0
    for key, t in sorted(totals):
        offset_of[key] = acc
        acc += t or 0
    # constant-depth literal map lookup — a CASE chain would nest
    # n_buckets deep and break Catalyst on fine-grained buckets
    lookup = F.create_map(
        *[F.lit(x) for kv in offset_of.items() for x in kv]
    )
    return local.withColumn(
        out_col, F.col("__loc") + lookup[F.col("__pb")]
    ).drop("__pb", "__loc")


def forward_fill(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str],
    *,
    suffix: str = "_ffill",
) -> DataFrame:
    """Per-entity forward fill (last observation carried forward) — the
    sparse-to-dense time-series repair between event logs and feature
    frames: each ``value_cols`` entry gains a ``<col>_ffill`` column
    holding the most recent non-null value at or before the row in the
    entity's ``order_cols`` timeline (null until the first
    observation).

    One window, one shuffle: ``last(col, ignorenulls=True)`` over
    ``(partitionBy keys, orderBy order_cols, rows unbounded
    preceding..current)`` evaluates all fills in a single
    partition-sort pass. Partitioning is per entity key — the standard
    time-series contract that one entity's history fits a task; for
    keyless global fills use :func:`running_total`'s bucketed two-phase
    shape instead (a global window is the single-partition anti-pattern
    this module exists to avoid).

    ``order_cols`` must be a deterministic total order per entity (add
    a unique id as tiebreaker) — otherwise equal-order rows make the
    carried value nondeterministic.
    """
    if not keys:
        raise ValueError(
            "keys must be non-empty: a keyless forward fill is a global "
            "single-partition window; bucket the timeline instead"
        )
    if not order_cols or not value_cols:
        raise ValueError("order_cols and value_cols must be non-empty")
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in value_cols:
        out = out.withColumn(
            f"{c}{suffix}", F.last(F.col(c), ignorenulls=True).over(w)
        )
    return out


def time_weighted_avg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    keys: list[str],
    tiebreak_col: str,
    grain: str = "hour",
) -> DataFrame:
    """Per-key time-weighted average per ``grain`` cell — the TWAP /
    metering aggregate: each observation's value HOLDS from its
    timestamp until the key's next observation
    (:func:`forward_fill`'s step-function semantics, integrated over
    time), and each holding segment is split exactly across the grain
    cells it crosses. A plain AVG weights by observation COUNT and
    overstates bursty periods; this weights by holding TIME.

    EXACT-INTEGER contract: values quantize to ``10^-4`` units via
    DECIMAL(18,4) (the repo's cents convention), durations are epoch
    MICROSECOND differences (int64), so the per-cell moments are exact
    integer sums: ``num_e4us = sum(value_q * overlap_us)``,
    ``covered_us = sum(overlap_us)``, and ``twap_q = num div covered``
    (truncated). Magnitude bound: ``max|value_q| * grain_us`` must fit
    int64 — at hour grain that is values into the 10^8 range.
    ``tiebreak_col`` (a unique column, e.g. the event id) makes the
    within-timestamp order deterministic: simultaneous observations
    produce zero-length segments in EVERY engine instead of
    engine-dependent lead() order.

    Returns ``(*keys, grain_start, covered_us, num_e4us, twap_q)`` for
    every grain cell a segment touches. The last observation per key
    extrapolates nowhere (no segment after it).

    Scale shape: one keyed window (lead), one explode bounded by the
    calendar cells each segment crosses, one map-side-combined
    (key, cell) aggregate — no global sort, no driver round-trip.
    """
    from pyspark.sql import Window

    if grain not in ("hour", "day"):
        raise ValueError(f"grain must be 'hour' or 'day', got {grain!r}")
    if not keys:
        # an empty partitioning would plan the lead() as a
        # SinglePartition window — the whole input on one task
        raise ValueError("keys must name at least one partition column")
    step_us = 3_600_000_000 if grain == "hour" else 86_400_000_000
    w = Window.partitionBy(*keys).orderBy(ts_col, tiebreak_col)
    vq = (
        F.col(value_col).cast("decimal(18,4)")
        * F.lit(10_000).cast("decimal(18,0)")
    ).cast("long")
    seg = (
        df.select(
            *keys,
            F.col(ts_col).alias("__ts"),
            vq.alias("__vq"),
            F.lead(ts_col).over(w).alias("__nxt"),
        )
        .filter(F.col("__nxt").isNotNull() & (F.col("__nxt") > F.col("__ts")))
    )
    cells = seg.select(
        *keys,
        "__ts",
        "__vq",
        "__nxt",
        F.explode(
            F.sequence(
                F.date_trunc(grain, "__ts"),
                F.date_trunc(grain, "__nxt"),
                F.expr(f"interval 1 {grain}"),
            )
        ).alias("grain_start"),
    )
    overlap = F.least(
        F.unix_micros("__nxt"), F.unix_micros("grain_start") + F.lit(step_us)
    ) - F.greatest(F.unix_micros("__ts"), F.unix_micros("grain_start"))
    num_col = "num_e4us"
    return (
        cells.withColumn("__us", overlap)
        .filter(F.col("__us") > 0)
        .groupBy(*keys, "grain_start")
        .agg(
            F.sum("__us").alias("covered_us"),
            F.sum(F.col("__vq") * F.col("__us")).alias(num_col),
        )
        .select(
            *keys,
            "grain_start",
            "covered_us",
            num_col,
            F.expr(f"{num_col} DIV covered_us").alias("twap_q"),
        )
    )


def decayed_sum(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    *,
    anchor_sql: str | None = None,
    max_shift: int = 62,
    out_col: str = "decayed_q",
) -> DataFrame:
    """Per-key EXPONENTIALLY TIME-DECAYED sum with half-life = 1 day,
    computed in EXACT integer arithmetic: each event contributes
    ``round(value * 100) >> age_days`` — a literal ARITHMETIC
    right shift (``shiftright`` in Spark, ``>>`` in DuckDB), i.e. FLOOR
    division by 2^age. The convention is pinned deliberately (r08):
    truncating integer division (Spark ``DIV`` / DuckDB ``//``) rounds
    toward zero instead, and the two conventions diverge on negative
    odd scaled values (floor(-5/2) = -3 vs trunc = -2). Floor is the
    shift-consistent choice — ``(x >> a) >> b == x >> (a + b)`` holds,
    so a decayed sum decayed again composes exactly; both engines'
    arithmetic shifts floor identically (verified: Spark
    ``shiftright(-5, 1)`` = DuckDB ``(-5)::BIGINT >> 1`` = -3). So
    yesterday's events count half, the day before a quarter — the
    recency weighting a ranking/freshness score wants, without the
    nondeterministic float pow() accumulation a hash oracle can't
    replay.

    ``anchor_sql`` is the "now" the age is measured from, as an
    engine-portable SQL date expression. Default: the data's own
    ``max(date(ts))`` attached as a 1-row broadcast — deterministic
    for a fixed dataset, no wall clock in the plan. Ages beyond
    ``max_shift`` clamp (a 2^-62 weight is 0 for any realistic value),
    keeping the shift in int64 range; negative ages (events after the
    anchor) clamp to 0 — full weight.

    Quantization: bround (round-half-even) to cents. NOTE:
    DuckDB's round() on DOUBLE rounds half AWAY from zero (round(-0.5)
    = -1 where bround gives 0) — caught by the r08 negative-value
    boundary rows — so a replaying oracle must spell out half-even
    explicitly (see ``_SQL_BROUND`` in the registry) rather than call
    round().

    Scale shape: one map-side-combined aggregate over ``keys``; the
    default anchor is one scalar aggregate broadcast to every row.

    Returns ``(*keys, n_events, decayed_q)`` — ``decayed_q`` in cents.
    """
    if anchor_sql is None:
        anc = df.agg(F.max(F.to_date(ts_col)).alias("__anchor"))
        base = df.crossJoin(F.broadcast(anc))
        anchor_expr = "__anchor"
    else:
        base = df
        anchor_expr = anchor_sql
    age = (
        f"greatest(least(datediff({anchor_expr}, to_date({ts_col})), "
        f"{max_shift}), 0)"
    )
    contrib = F.expr(
        f"shiftright(CAST(bround({value_col} * 100) AS BIGINT), "
        f"CAST({age} AS INT))"
    )
    return (
        base.withColumn("__c", contrib)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__c").alias(out_col),
        )
    )
