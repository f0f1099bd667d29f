"""Fixed-width integer histograms and histogram-derived quantiles.

The mergeable alternative to exact percentiles at 100 TB: an exact
per-group sort (``percentile``) shuffles every row to its group's
reducer and holds the group's values in memory; a fixed-bin histogram
is an algebraic aggregate — map-side combine reduces each partition to
at most ``num_bins`` rows before the shuffle, partial histograms merge
by adding counts (the same decomposition contract as
``operators/incremental.py`` states), and any quantile is then read off
the cumulative counts with bin-width error bounded up front by the bin
layout the caller chose.

Everything is integer arithmetic on a caller-scaled ``long`` column
(scale floats to cents/micros first) — bin assignment, cumulative
sums, and quantile ranks replay bit-for-bit in any engine, so the
DuckDB oracles compare exactly rather than within-epsilon.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import PPM


def histogram(
    df: DataFrame,
    value: Column | str,
    *,
    lo: int,
    width: int,
    num_bins: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Fixed-width histogram of an integer-valued column: bin ``i``
    covers ``[lo + i*width, lo + (i+1)*width)``; values below ``lo``
    clamp into bin 0 and values at/above the top edge clamp into bin
    ``num_bins - 1`` (edge bins double as under/overflow counters, the
    usual monitoring convention). NULLs are dropped. Returns one row
    per non-empty bin: ``(*keys, bin, lo_edge, n)``.

    With ``keys`` the histogram is computed per group in the SAME
    single aggregate (the per-source quality-distribution /
    drift-monitoring shape) — still algebraic: at most
    ``groups_in_partition x num_bins`` rows survive the map side
    regardless of input size.
    """
    import numbers

    # Integral (not int): numpy integer scalars are exact and must keep
    # working; bool is excluded (it IS Integral but a caller passing
    # True as a width is a bug)
    if (
        not isinstance(width, numbers.Integral)
        or isinstance(width, bool)
        or width <= 0
    ):
        raise ValueError(
            f"width must be a positive integer, got {width!r} — the bin "
            "assignment is integer division (scale fractional-width "
            "domains into integers first)"
        )
    if not isinstance(lo, numbers.Integral) or isinstance(lo, bool):
        raise ValueError(f"lo must be an integer, got {lo!r}")
    width, lo = int(width), int(lo)
    if num_bins < 1:
        raise ValueError(f"num_bins must be >= 1, got {num_bins}")
    v = F.col(value) if isinstance(value, str) else value
    # bin assignment in INTEGER arithmetic end to end: `/` on longs is
    # double division in Spark SQL, and beyond ~2^53 the rounded
    # quotient can cross a bin boundary — `div` never can. The under-
    # flow clamp to 0 happens BEFORE the divide, so the dividend is
    # non-negative and trunc-vs-floor division never differs.
    delta = F.greatest(v - F.lit(lo), F.lit(0)).cast("long")
    ks = list(keys)
    return (
        df.filter(v.isNotNull())
        .select(*ks, delta.alias("__delta"))
        .select(
            *ks,
            F.least(
                F.expr(f"__delta div {int(width)}"), F.lit(num_bins - 1)
            ).alias("bin"),
        )
        .groupBy(*ks, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *ks,
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo_edge"),
            "n",
        )
    )


def merge_histograms(
    hists: list[DataFrame], *, keys: Sequence[str] = ()
) -> DataFrame:
    """Merge :func:`histogram` outputs built over disjoint batches —
    the mergeable-state contract of ``operators/incremental.py``
    extended to distributions: aggregate only the new batch's
    histogram, merge grain-sized ``(keys, bin)`` rows, never rescan
    history; then :func:`histogram_quantiles` reads quantiles off the
    merged state. (A histogram cannot be a single-COLUMN state in
    Spark's algebraic aggregate set — there is no elementwise
    array-sum aggregate — so the state grain is keyed rows, which is
    also what partitioned parquet wants.)

    Union (no shuffle) + one grain-sized hash aggregate; all inputs
    must share the same bin layout (same lo/width/num_bins — bins
    merge BY INDEX, and lo_edge rides along only because equal bins
    imply equal edges).
    """
    if not hists:
        raise ValueError("merge_histograms needs at least one histogram")
    ks = list(keys)
    cols = ks + ["bin", "lo_edge", "n"]
    unioned = hists[0].select(cols)
    for h in hists[1:]:
        unioned = unioned.unionByName(h.select(cols))
    return (
        unioned.groupBy(*ks, "bin", "lo_edge")
        .agg(F.sum("n").alias("n"))
        .select(*ks, "bin", "lo_edge", "n")
    )


def histogram_quantiles(
    hist: DataFrame, quantiles: list[int]
) -> DataFrame:
    """Quantiles from a ``histogram()`` output, exact over the binned
    distribution: for each ``q`` in permille (500 = median), the first
    bin whose cumulative count reaches ``ceil(q/1000 * total)``.
    Returns ``(q_permille, bin, lo_edge)``.

    Permille ints (not float fractions) keep the rank computation in
    integer space: a bin reaches quantile ``q`` iff
    ``cum*1000 >= q*total`` (the integer form of ``cum >=
    ceil(q/1000 * total)``) — no float rounding to diverge between
    engines.

    Shape: the histogram is metadata-sized (<= num_bins rows), so it
    is folded into ONE array row (``collect_list`` + ``array_sort``)
    and the cumulative counts / rank probes run as array higher-order
    functions on that row — no window over a single partition, no
    join, one tiny final aggregate. An empty histogram yields an empty
    result.
    """
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    for q in quantiles:
        if not 1 <= q <= 1000:
            raise ValueError(f"quantiles are permille in [1, 1000], got {q}")
    # a GROUPED histogram (built with keys=...) carries its key columns;
    # collapsing it here would silently merge every group's bins into
    # one distribution and return wrong quantiles — refuse instead
    # (compute per-group quantiles by filtering to one group first, or
    # aggregate groups deliberately with merge_histograms)
    extra = [c for c in hist.columns if c not in ("bin", "lo_edge", "n")]
    if extra:
        raise ValueError(
            "histogram_quantiles expects an ungrouped histogram "
            f"(bin, lo_edge, n); extra columns {extra} look like group "
            "keys, and collapsing groups into one distribution would "
            "be silently wrong"
        )
    one_row = hist.agg(
        F.array_sort(
            F.collect_list(F.struct("bin", "lo_edge", "n"))
        ).alias("__hs")
    )
    return _rank_probes(one_row, [], quantiles)


def histogram_quantiles_by(
    hist: DataFrame, keys: Sequence[str], quantiles: list[int]
) -> DataFrame:
    """Per-group quantiles from a GROUPED ``histogram(..., keys=...)``
    output — the companion :func:`histogram_quantiles` refuses to
    guess at (collapsing groups silently is the wrong answer; this is
    the right one). Returns ``(*keys, q_permille, bin, lo_edge)``,
    same integer permille-rank semantics.

    Shape: the grouped histogram is grain-sized (groups x num_bins
    rows), so one group-keyed aggregate folds each group's bins into
    an array row and the cumulative/rank probes run as array HOFs per
    group — no window, no join, no per-group driver loop.
    """
    ks = list(keys)
    if not ks:
        raise ValueError(
            "keys must be non-empty — use histogram_quantiles for an "
            "ungrouped histogram"
        )
    missing = [c for c in ks if c not in hist.columns]
    if missing:
        raise ValueError(f"keys {missing} not in histogram columns")
    extra = [c for c in hist.columns if c not in (*ks, "bin", "lo_edge", "n")]
    if extra:
        raise ValueError(
            f"unexpected histogram columns {extra}: expected "
            f"({', '.join(ks)}, bin, lo_edge, n)"
        )
    rows = hist.groupBy(*ks).agg(
        F.array_sort(
            F.collect_list(F.struct("bin", "lo_edge", "n"))
        ).alias("__hs")
    )
    return _rank_probes(rows, ks, quantiles)


def _rank_probes(
    rows: DataFrame, key_cols: list[str], quantiles: list[int]
) -> DataFrame:
    """Shared quantile-rank machinery over rows carrying a sorted
    ``__hs`` array<struct<bin, lo_edge, n>> (one row per group, or one
    total row): integer permille ranks — a bin reaches quantile q iff
    cum*1000 >= q*total, the integer form of cum >= ceil(q/1000 *
    total) — evaluated as array higher-order functions per row."""
    zero = F.lit(0).cast("long")
    total = F.aggregate(F.col("__hs"), zero, lambda a, x: a + x["n"])
    cums = F.transform(
        F.col("__hs"),
        lambda x, i: F.aggregate(
            F.slice(F.col("__hs"), 1, i + 1), zero, lambda a, y: a + y["n"]
        ),
    )
    probes = rows.select(
        *key_cols,
        F.explode(
            F.array(*[F.lit(q) for q in sorted(set(quantiles))])
        ).alias("q_permille"),
        F.col("__hs"),
        cums.alias("__cums"),
        total.alias("__total"),
    ).filter(F.col("__total") > 0)
    # cum is nondecreasing, so the first index reaching the rank is
    # (number of strictly-failing prefixes) + 1
    idx = (
        F.size(
            F.filter(
                F.col("__cums"),
                lambda c: c * 1000
                < F.col("q_permille").cast("long") * F.col("__total"),
            )
        )
        + 1
    )
    hit = F.element_at(F.col("__hs"), idx)
    return probes.select(
        *key_cols,
        "q_permille",
        hit["bin"].alias("bin"),
        hit["lo_edge"].alias("lo_edge"),
    )


def quantile_rank(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    out_col: str = "pr_ppm",
) -> DataFrame:
    """Per-group EXACT QUANTILE-RANK feature transform — each row's
    value rewritten as its empirical percentile within its group, in
    integer ppm: ``pr_ppm = (strictly-smaller row count) * PPM
    DIV (n_group - 1)`` — exactly SQL ``PERCENT_RANK()`` with min-rank
    tie semantics ((rank-1)/(n-1)), rendered without a float so the
    transform replays bit-for-bit cross-engine. The quantile
    transformer every feature pipeline wants before a rank-based model
    or a cross-population comparison; single-row groups get 0.

    Scale shape — NEVER a row-grain global sort: the window that
    computes the cumulative counts runs over the DISTINCT (group,
    value) relation (one map-combined aggregate first, so the sort is
    value-cardinality-sized, not corpus-sized), and rows get their
    rank back through one equi-join on the same (group, value) key
    they were just aggregated on. A per-group ``percent_rank()`` over
    the raw stream would sort every row of a hot group in one task —
    the exact shape this engine bans (see rfm_segments' fence
    design); here a group with a billion rows but 50k distinct values
    windows 50k rows.

    Returns ``df``'s rows (all original columns, NULL values dropped —
    a NULL has no rank) with ``<out_col>`` appended.

    Reference scope note: no analytics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    gc = list(group_cols)
    base = df.filter(F.col(value_col).isNotNull())
    vc = base.groupBy(*gc, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = (
        Window.partitionBy(*gc)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = vc.withColumn(
        "__lt", F.sum("__cnt").over(w) - F.col("__cnt")
    )
    tot = vc.groupBy(*gc).agg(F.sum("__cnt").alias("__n"))
    # no forced broadcast: tot is group-grain, which is usually tiny
    # (AQE will broadcast it) but a high-cardinality group column must
    # be allowed to shuffle-join rather than OOM the driver
    ranked = pre.join(tot, gc).select(
        *gc,
        value_col,
        F.when(F.col("__n") > 1, F.expr(f"__lt * {PPM}L DIV (__n - 1)"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias(out_col),
    )
    return base.join(ranked, [*gc, value_col])


def top_share(
    df: DataFrame,
    key_cols,
    *,
    top_k: int,
) -> DataFrame:
    """CONCENTRATION census — what share of all rows do the ``top_k``
    heaviest keys hold? The Lorenz-curve point behind "1% of users
    generate 40% of traffic" capacity/abuse analyses, and the direct
    skew headline for a prospective groupBy/join on the key (the
    gini_* operators give the full-curve summary; this is the
    actionable top-slice number).

    Scale shape: one keyed count with map-side combine, a TakeOrdered
    top-k cut (never a global sort — ties broken by ascending key so
    the cut replays deterministically), one scalar total, and a
    cross-join of two tiny relations. Returns one row
    ``(n_keys, n_rows, top_k, top_rows, share_ppm)`` where
    ``share_ppm = top_rows * PPM DIV n_rows``.

    Reference scope note: no aggregation beyond the diff summary exists
    in the reference (SURVEY.md §2.7); north-star extension surface.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    keys = list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    top = counts.orderBy(
        F.desc("__n"), *[F.asc(k) for k in keys]
    ).limit(top_k)
    tot = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("n_rows"),
    )
    top_agg = top.agg(
        F.count(F.lit(1)).alias("top_k"),
        F.sum("__n").alias("top_rows"),
    )
    # empty-input contract (ADVICE r09): sum() over zero rows is NULL in
    # both engines; coalesce to 0 and define share_ppm = 0 when n_rows = 0
    # so an empty table reads as "no concentration", never a NULL row
    return top_agg.crossJoin(F.broadcast(tot)).select(
        "n_keys",
        F.coalesce(F.col("n_rows"), F.lit(0).cast("long")).alias("n_rows"),
        "top_k",
        F.coalesce(F.col("top_rows"), F.lit(0).cast("long")).alias(
            "top_rows"
        ),
        F.expr(
            "CASE WHEN coalesce(n_rows, 0L) = 0L THEN 0L "
            f"ELSE coalesce(top_rows, 0L) * {PPM}L DIV n_rows END"
        ).alias("share_ppm"),
    )
