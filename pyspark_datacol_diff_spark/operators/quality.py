"""Declarative data-quality checks — one pass, one aggregate.

The dbt-test / Deequ-shaped contract: a dict of named row-level rules
(Column predicates that are TRUE when the row is healthy) evaluated in
a SINGLE map-side-combined aggregate over one scan, whatever the rule
count — never one job per rule (the reference library's n-jobs-for-n
counts anti-pattern, rebuilt here the same way its diff summary was).
NULL predicate results count as violations: an unevaluable rule is a
failing rule, the conservative read.

Row-level rules only. Cross-row rules reuse the engine's existing
shapes instead of hiding a shuffle in a "rule": uniqueness is
``dedup.exact_dedup_groups`` / a keyed count, referential integrity is
a broadcast anti join (``join_anti_customers``), distribution checks
are :func:`~pyspark_datacol_diff_spark.operators.diff.distribution_drift`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import PPM, checked_long


def check_rules(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate every rule over one scan; returns one row per rule:
    ``(rule, n_rows, n_violations, passed)``.

    The single aggregate emits a per-rule violation count (sum of the
    inverted, null-is-violation predicate) plus the row count; the
    per-rule rows come from unpivoting that ONE result row —
    grain-sized, no second scan, and rule names are ordinary column
    aliases (any string works — nothing is spliced into SQL text).
    ``passed`` is ``n_violations == 0``.
    """
    if not rules:
        raise ValueError("rules must name at least one predicate")
    if "__n" in rules:
        raise ValueError("'__n' is reserved for the row count")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in rules.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)
            ).alias(name)
        )
    one = df.agg(*aggs)
    long = one.unpivot(["__n"], list(rules), "rule", "n_violations")
    return long.select(
        "rule",
        F.col("__n").alias("n_rows"),
        F.coalesce("n_violations", F.lit(0)).cast("long").alias("n_violations"),
        (F.coalesce("n_violations", F.lit(0)) == 0).alias("passed"),
    )


def check_rules_by(
    df: DataFrame, keys: list[str], rules: dict[str, Column]
) -> DataFrame:
    """Grouped variant of :func:`check_rules`: one health row per
    (group, rule) — the per-source / per-partition data-quality report
    that tells you WHICH feed broke, not just that something did. Same
    single-aggregate contract (one scan, map-side combined, N rules in
    one pass), the unpivot just runs over group-grain rows instead of
    one. Returns ``(*keys, rule, n_rows, n_violations, passed)``.
    """
    if not rules:
        raise ValueError("rules must name at least one predicate")
    if "__n" in rules:
        raise ValueError("'__n' is reserved for the row count")
    clash = set(rules) & set(keys)
    if clash:
        raise ValueError(f"rule names clash with group keys: {sorted(clash)}")
    reserved = {"rule", "n_rows", "n_violations", "passed"} & set(keys)
    if reserved:
        # a group key named like an output column would collide with the
        # unpivot/report columns and emit duplicate/ambiguous names
        raise ValueError(
            f"group keys clash with reserved output columns: {sorted(reserved)}"
        )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in rules.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)
            ).alias(name)
        )
    grouped = df.groupBy(*keys).agg(*aggs)
    long = grouped.unpivot(
        keys + ["__n"], list(rules), "rule", "n_violations"
    )
    return long.select(
        *keys,
        "rule",
        F.col("__n").alias("n_rows"),
        F.coalesce("n_violations", F.lit(0)).cast("long").alias("n_violations"),
        (F.coalesce("n_violations", F.lit(0)) == 0).alias("passed"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    *,
    keys: list[str] | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Percentile winsorization — clamp ``value_col`` to its
    [``lower``, ``upper``] DISCRETE percentile fences, per group when
    ``keys`` is given (the outlier-clipping step of feature prep /
    reward-signal normalization; Tukey fences' rank-based sibling).
    Appends ``out_col`` (default ``{value_col}_winsorized``); every
    input row and column passes through, NULL values stay NULL (a
    missing measurement is not an outlier).

    Exactness: ``percentile_disc`` SELECTS an existing value (never
    interpolates), so on exact-integer inputs the fences — and
    therefore the clamp — are engine-portable integers, the same
    contract as ``pctile_by_type_events`` / the RFM quartile fences.
    Domain bound: Spark's percentile_disc passes the selected value
    through double, so integral inputs must stay within double's exact
    range (|v| < 2^53) — comfortably true for anything cents-scaled;
    beyond it the fence (not the data) quantizes.

    Shape — fences ride a broadcast, the data never shuffles: one
    ordered-set aggregate produces the group-grain fence relation
    (two percentile_disc per group, map-side combinable), broadcast
    back onto the stream for a pure-Column clamp. The group-by-less
    variant is the same plan with a 1-row fence relation. At 100 TB
    the only exchange is the fence aggregate's (group-grain);
    ``sort``-free, window-free.
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError(
            f"need 0 <= lower < upper <= 1, got {lower}/{upper}"
        )
    if out_col is None:
        out_col = f"{value_col}_winsorized"
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    clash = {"__lo", "__hi"} & set(df.columns)
    if clash:
        raise ValueError(
            f"columns clash with reserved fence names: {sorted(clash)}"
        )
    v = F.col(value_col)
    # percentile_disc widens to double even on integral inputs; the
    # fence VALUE is an existing element of the column, so casting back
    # to the column's own type is lossless and keeps the clamp (and the
    # appended column) in the input's type
    v_type = df.schema[value_col].dataType.simpleString()
    aggs = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY `{value_col}`)"
        )
        .cast(v_type)
        .alias(a)
        for p, a in ((lower, "__lo"), (upper, "__hi"))
    ]
    nn = df.filter(v.isNotNull())
    if keys:
        # null-safe fence join: a NULL group key is a group and gets
        # its own fences — a plain equi join would leave its rows
        # unclamped while every other group is clipped
        fences = nn.groupBy(*keys).agg(*aggs)
        cond = F.lit(True)
        for c in keys:
            cond = cond & df[c].eqNullSafe(fences[c])
        joined = df.join(F.broadcast(fences), cond, "left").select(
            df["*"], fences["__lo"], fences["__hi"]
        )
    else:
        fences = nn.agg(*aggs)
        joined = df.crossJoin(F.broadcast(fences))
    clamped = F.when(
        v.isNotNull(),
        F.least(F.greatest(v, F.col("__lo")), F.col("__hi")),
    )
    return joined.withColumn(out_col, clamped).drop("__lo", "__hi")


def benford_first_digit(
    df: DataFrame,
    value_col: str,
    *,
    group_by: list[str] | None = None,
) -> DataFrame:
    """First-significant-digit distribution of a positive numeric column
    — the Benford's-law audit (fraud/synthetic-data screening: organic
    magnitudes follow ``P(d) = log10(1 + 1/d)``; fabricated ones
    usually don't). Distribution checks like this one are the classic
    cross-row data-quality rule that :func:`check_rules` deliberately
    excludes.

    EXACT-INTEGER contract: the first digit comes from the DECIMAL
    rendering, never from float logs — ``v -> CAST(v AS
    DECIMAL(18,4)) * 10^4`` is an exact integer in any engine,
    and the leading character of an integer's decimal string is
    engine-independent (float ``log10``/`pow`` paths differ in last
    ulps across engines; strings of ints never do). Non-positive and
    NULL values are excluded (they have no first significant digit).

    Returns one row per (group, digit): ``(*group_by, digit, n,
    ppm)`` where ``ppm = n * PPM div group_total`` (truncated
    integer division — exact, comparable against Benford's 301030 /
    176091 / ... expectations without emitting a float). A NULL group
    key is a group like any other (the :func:`winsorize` convention) —
    window partitioning groups NULLs together in every engine.

    Scale shape: one projection + one map-side-combined aggregate on
    (group, digit) — at most ``9 * |groups|`` output rows; the group
    totals come from a window over that digit-grain relation (a second
    exchange of <= 9 * |groups| rows, never of the input). The
    ungrouped variant broadcasts its 1-row total instead — a window
    there would mean a SinglePartition exchange.
    """
    gb = list(group_by or [])
    e = (
        F.col(value_col).cast("decimal(18,4)")
        * F.lit(10_000).cast("decimal(18,0)")
    ).cast("long")
    digits = (
        df.select(*gb, e.alias("__e"))
        .filter(F.col("__e") > 0)
        .select(
            *gb,
            F.substring(F.col("__e").cast("string"), 1, 1)
            .cast("int")
            .alias("digit"),
        )
        .groupBy(*gb, "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # SQL DIV: exact int64 division (a float `/` then cast could round
    # a just-below-integer quotient up before truncation)
    ppm = F.expr(f"(n * CAST({PPM} AS BIGINT)) DIV __tot").alias("ppm")
    if gb:
        from pyspark.sql import Window

        tot = F.sum("n").over(Window.partitionBy(*gb)).alias("__tot")
        return digits.select(*gb, "digit", "n", tot).select(
            *gb, "digit", "n", ppm
        )
    # branch point: the total re-reads it (<= 9 rows, trivial pinned
    # footprint). Returned lazily, so the persist cannot be released
    # here; callers that are done with the result should
    # ``spark.catalog.clearCache()`` (the ngram_jaccard_pairs contract).
    digits = digits.persist()
    totals = digits.groupBy().agg(F.sum("n").alias("__tot"))
    return digits.crossJoin(F.broadcast(totals)).select("digit", "n", ppm)


def gini_impurity(
    df: DataFrame,
    group_cols: list[str],
    label_col: str,
    *,
    ppm_col: str = "gini_ppm",
) -> DataFrame:
    """Per-group Gini impurity of a label distribution — the
    EXACT-RATIONAL diversity score (``1 - sum(p_i^2)``): 0 when a
    group is pure (one label), approaching 1 as labels spread.
    Shannon entropy measures the same thing through float logarithms
    whose low bits differ across engines; Gini is a polynomial in the
    counts, so it stays in integer arithmetic end to end:
    ``gini_ppm = (T^2 - sum(c_i^2)) * PPM div T^2`` with
    per-label counts ``c_i`` and group total ``T`` — exact in any
    64-bit engine while ``T < ~3e9`` per group (T^2 must fit int64;
    per-entity behavioral groups are orders of magnitude below that).
    NULL labels count as their own label class, like SQL GROUP BY.

    Returns ``(*group_cols, n, sum_sq, gini_ppm)`` — the raw moments
    ride along so callers can re-aggregate exactly.

    Scale shape: two map-side-combined aggregates back to back
    ((group, label) grain then group grain) — the first shuffle does
    the heavy reduction, the second moves one row per (group, label).
    """
    counts = df.groupBy(*group_cols, label_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    return counts.groupBy(*group_cols).agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("sum_sq"),
    ).select(
        *group_cols,
        "n",
        "sum_sq",
        F.expr(
            f"((n * n - sum_sq) * CAST({PPM} AS BIGINT)) DIV (n * n)"
        ).alias(ppm_col),
    )


def cusum(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    *,
    drift: int,
    threshold: int,
) -> DataFrame:
    """One-sided CUSUM changepoint/anomaly scores per key — the
    classic sequential drift detector: ``s_i = max(0, s_{i-1} +
    (x_i - drift))``, alarming where ``s_i > threshold`` (a sustained
    upward shift accumulates; isolated spikes decay). The recursion
    looks window-inexpressible, but the closed form
    ``s_i = S_i - min(0, min_{j<=i} S_j)`` over the prefix sums
    ``S_i = sum_{1..i}(x - drift)`` turns it into two standard
    RUNNING windows (sum + min) on one keyed partition — exact int64
    end to end, no recursion, no UDF.

    ``order_col`` must be unique per key (give it a grain — hourly
    counts, daily totals); ties would make the RANGE-frame prefix
    ambiguous, so the window orders by ``order_col`` alone and the
    caller owns that contract (aggregate to the grain first).

    Returns the input keys + ``(order_col, value, cusum, alarm)``.

    Scale shape: one keyed window partition per key — sized by the
    series length per key (a calendar grain bounds it), not by the
    data; both running aggregates share the single sort/exchange.
    """
    from pyspark.sql import Window

    if not keys:
        raise ValueError("keys must name at least one partition column")
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # nested window functions (min over a running sum) need staging:
    # project S first, then window over the projected column — both
    # windows share the one keyed sort/exchange
    staged = df.select(
        *keys, order_col, F.col(value_col).alias("value")
    ).withColumn(
        "__S",
        F.sum(F.col("value").cast("long") - F.lit(drift)).over(w),
    )
    out = staged.withColumn(
        "cusum",
        F.col("__S") - F.least(F.lit(0).cast("long"), F.min("__S").over(w)),
    )
    return out.select(
        *keys,
        order_col,
        "value",
        "cusum",
        (F.col("cusum") > threshold).alias("alarm"),
    )


def _two_sample_prefix(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    bucket_width: int,
    caller: str,
) -> tuple[DataFrame, int, int]:
    """The distributed prefix sum under the two-sample statistics.
    Returns ``(cum, n_a, n_b)``: ``cum`` holds one row per distinct
    non-NULL value with its per-group counts ``ca`` / ``cb`` and the
    INCLUSIVE running counts ``cum_a`` / ``cum_b`` in value order;
    ``n_a`` / ``n_b`` are the group sizes as driver ints.

    Scale shape: one map-combined aggregate to distinct (value) grain,
    then the TWO-PHASE prefix sum (the running_total dataflow):
    ``bucket_width`` partitions the value domain, each bucket runs a
    local window, and the per-bucket totals are collected — pick a
    width that bounds ``domain / width`` (the repo's bounded-collect
    contract) — and added back as literal offset maps. Never a
    SinglePartition window over the values.

    Raises ``ValueError`` naming ``caller`` when either group is empty
    after NULL filtering — the statistic is undefined, and Spark's DIV
    would yield NULL where DuckDB's // raises, so both worlds get the
    same typed error — or when ``value_col`` casts to a NULL BIGINT
    bucket key (non-numeric values have no position in the value
    order)."""
    from pyspark.sql import Window

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    )
    vc = base.groupBy(value_col).agg(
        F.sum((F.col(group_col) == group_a).cast("long")).alias("ca"),
        F.sum((F.col(group_col) == group_b).cast("long")).alias("cb"),
    )
    # DIV over a PRE-ALIASED internal column: exact integer semantics
    # without interpolating the caller's column name into SQL text
    # (interval_overlap_join's convention — VERDICT r10 #6 sweep)
    b = vc.withColumn("__vb", F.col(value_col).cast("bigint")).withColumn(
        "__pb", F.expr(f"__vb DIV {int(bucket_width)}")
    )
    w = (
        Window.partitionBy("__pb")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = (
        b.withColumn("__la", F.sum("ca").over(w))
        .withColumn("__lb", F.sum("cb").over(w))
        .persist()
    )
    raw_totals = [
        (r["__pb"], r["ta"], r["tb"])
        for r in local.groupBy("__pb")
        .agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
        .collect()
    ]
    if any(k is None for k, _, _ in raw_totals):
        local.unpersist()
        raise ValueError(
            f"{value_col} produced NULL bucket keys (non-numeric or "
            "BIGINT-overflowing values cast to NULL): a NULL bucket has "
            "no position in the value ordering — cast or filter such "
            "rows first (running_total's contract)"
        )
    off_a, off_b, acc_a, acc_b = {}, {}, 0, 0
    for key, ta, tb in sorted(raw_totals):
        off_a[key], off_b[key] = acc_a, acc_b
        acc_a += ta or 0
        acc_b += tb or 0
    if acc_a == 0 or acc_b == 0:
        local.unpersist()
        raise ValueError(
            f"{caller} needs non-empty samples on both sides: "
            f"group_a={group_a!r} has {acc_a} rows, group_b={group_b!r} "
            f"has {acc_b} rows (after NULL-value filtering)"
        )
    map_a = F.create_map(*[F.lit(x) for kv in off_a.items() for x in kv])
    map_b = F.create_map(*[F.lit(x) for kv in off_b.items() for x in kv])
    cum = local.select(
        "ca",
        "cb",
        (F.col("__la") + map_a[F.col("__pb")]).alias("cum_a"),
        (F.col("__lb") + map_b[F.col("__pb")]).alias("cum_b"),
    )
    return cum, acc_a, acc_b


def ks_statistic(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    bucket_width: int = 1000,
) -> DataFrame:
    """EXACT two-sample KOLMOGOROV-SMIRNOV statistic between two
    groups' value distributions, in integer ppm — the
    distribution-drift gate one rung above binned relative-frequency
    comparison (:func:`distribution_drift` sees only the bins you
    chose; KS is the sup-norm over EVERY threshold):
    ``ks_ppm = max over distinct values v of
    |cum_a(v) * n_b - cum_b(v) * n_a| * PPM DIV (n_a * n_b)``
    — the cross-multiplied integer rendering of
    ``max |F_a(v) - F_b(v)|``, so the statistic replays bit-for-bit
    with no float CDF. Compare against the usual
    ``c(alpha) * sqrt((n_a+n_b)/(n_a*n_b))`` client-side.

    Scale shape: the value-grain two-phase prefix sum of
    :func:`_two_sample_prefix` (the default ``bucket_width`` 1000 puts
    cents-scale domains at thousands of collected bucket totals), then
    a 1-row max aggregate with ``n_a`` / ``n_b`` as literals; the
    128-bit cross-products run in DECIMAL(38,0).

    Returns one row ``(n_a, n_b, ks_ppm)``. Raises ``ValueError`` when
    either group is empty after NULL filtering (the statistic is
    undefined; Spark and DuckDB would otherwise diverge — NULL vs
    division error) or when ``value_col`` casts to NULL BIGINT
    (non-numeric values have no position in the value order).

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    cum, na, nb = _two_sample_prefix(
        df, group_col, value_col, group_a, group_b, bucket_width,
        "ks_statistic",
    )
    return (
        cum.select(
            F.lit(na).cast("long").alias("n_a"),
            F.lit(nb).cast("long").alias("n_b"),
            "cum_a",
            "cum_b",
        )
        .select(
            "n_a",
            "n_b",
            F.expr(
                f"abs(CAST(cum_a AS DECIMAL(38,0)) * n_b - "
                f"CAST(cum_b AS DECIMAL(38,0)) * n_a) * {PPM} "
                f"DIV (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ).cast("long").alias("d_ppm"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("d_ppm").alias("ks_ppm"))
    )


def mad_robust_stats(
    df: DataFrame,
    group_cols,
    value_col: str,
    *,
    k: int = 3,
) -> DataFrame:
    """Per-group MEDIAN / MAD robust outlier census in exact integers —
    the heavy-tail-safe alternative to IQR fences (iqr_fences) and
    z-scores: median and median-absolute-deviation are 50%-breakdown
    estimators, so a contaminated group cannot drag its own fence the
    way a mean/stddev (or even a quartile, at >25% contamination)
    can. ``value_col`` must already be an exact integer (cents — the
    repo's money convention).

    Exactness: both medians are ``percentile_disc(0.5)`` ordered-set
    aggregates — discrete order statistics that SELECT a value, never
    interpolate, so both engines return identical BIGINTs (the
    pctile_by_type convention). Outlier rule: ``|x - median| > k *
    MAD``, compared in integers. DEGENERATE-GROUP CONTRACT: when more
    than half a group's values are identical, MAD = 0 and the rule
    flags every value != median — the textbook MAD failure mode,
    deliberately not papered over (use IQR fences for such groups).

    Scale shape: two group-keyed ordered-set aggregates with one
    group-grain equi-join between them (AQE-sized, never a forced
    broadcast of the data-cardinality group domain) and a final
    group-keyed count — no global sort, no window over raw rows.

    Returns ``(*group_cols, n, median, mad, n_outliers)``.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    gc = list(group_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *gc, F.col(value_col).alias("__v")
    )
    med = base.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY __v)"
        ).cast("long").alias("median"),
    )
    dev = base.join(med, gc).select(
        *gc, "n", "median", F.abs(F.col("__v") - F.col("median")).alias("__d")
    )
    mad = dev.groupBy(*gc, "n", "median").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY __d)"
        ).cast("long").alias("mad"),
    )
    # the outlier census needs every deviation against its group's MAD
    # — a second group-grain join + one count aggregate, not a window
    return (
        dev.select(*gc, "__d")
        .join(mad, gc)
        .groupBy(*gc, "n", "median", "mad")
        .agg(
            F.sum(
                (F.col("__d") > F.lit(k) * F.col("mad")).cast("long")
            ).alias("n_outliers")
        )
        .select(*gc, "n", "median", "mad", "n_outliers")
    )


def spearman_ppm(
    df: DataFrame,
    group_cols,
    x_col: str,
    y_col: str,
    *,
    tiebreak_cols,
) -> DataFrame:
    """Per-group SPEARMAN rank correlation in exact scaled ppm — the
    monotone-trend detector ("is engagement drifting with time?", "does
    length track quality?") that is robust to any monotone transform of
    either variable, where Pearson is not.

    CONTRACT: ranks are ``row_number`` over a TOTAL order — ``(x,
    *tiebreak_cols)`` and ``(y, *tiebreak_cols)`` — not the average-rank
    tie variant (average ranks are fractional; this stays in exact
    integers, and the tiebreak makes the permutation deterministic so
    any SQL engine replays it bit-for-bit). With ranks a permutation of
    1..n, rho = 1 - 6*sum(d^2)/(n(n^2-1)); emitted as
    ``rho_ppm = PPM - (6*PPM*sum_d2) DIV (n(n^2-1))``, all
    DECIMAL(38,0) (n^3 passes int64 around n ~ 2M; sum_d2*6e6 long
    before that), quotient >= 0 so floor == trunc in both engines;
    emitted through the checked BIGINT cast. Groups with n < 2 are
    dropped (rho undefined).

    Scale shape: two ``row_number`` windows over the SAME group
    partition (one exchange, two sorts — Spark reuses the partitioning)
    and one keyed aggregate. NULL x or y rows are excluded up front
    (rank of NULL is engine-dependent).

    Returns ``(*group_cols, n, rho_ppm)``.

    Reference scope note: no correlation/statistics operators exist in
    the reference (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    gc = list(group_cols)
    ties = list(tiebreak_cols)
    if not ties:
        raise ValueError("tiebreak_cols must make the rank order total")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(*gc, x_col, y_col, *ties)
    wx = Window.partitionBy(*gc).orderBy(
        F.col(x_col), *[F.col(t) for t in ties]
    )
    wy = Window.partitionBy(*gc).orderBy(
        F.col(y_col), *[F.col(t) for t in ties]
    )
    ranked = base.select(
        *gc,
        F.row_number().over(wx).alias("__rx"),
        F.row_number().over(wy).alias("__ry"),
    )
    agg = ranked.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr(
                "CAST((__rx - __ry) AS DECIMAL(38,0)) * (__rx - __ry)"
            )
        ).alias("__sd2"),
    )
    rho = F.expr(
        f"CAST({PPM} AS DECIMAL(38,0)) - "
        f"(CAST(6 AS DECIMAL(38,0)) * {PPM} * __sd2) DIV "
        "(CAST(n AS DECIMAL(38,0)) * n * n - n)"
    )
    return (
        agg.filter(F.col("n") >= 2)
        .select(
            *gc,
            "n",
            checked_long(rho, context="spearman rho_ppm").alias("rho_ppm"),
        )
    )


def chi2_ppm(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson CHI-SQUARE independence statistic over a contingency of
    two categorical columns, in exact scaled ppm — the drift detector
    for "did the (source x lang) mix change?" / "is label balanced
    across splits?" questions where eyeballing marginals misses joint
    shifts.

    Uses the algebraic identity ``chi2 = n * (sum_cells O^2/(R*C)) - n``
    (empty cells contribute ZERO to the sum-of-squares form, so only
    OBSERVED cells are ever materialized — no row-category x
    col-category cross join, which the naive (O-E)^2/E form needs and
    which is a cartesian blow-up at vocabulary-sized categories).
    CONTRACT: each observed cell contributes the truncated integer
    ``O^2 * n * PPM DIV (R * C)`` and the statistic is the sum of
    those minus ``n * PPM`` — per-cell truncation, deterministic
    and bit-replayable, bias bounded by n_cells/PPM. Arithmetic
    is DECIMAL(38,0) end-to-end; exactness requires
    ``n^3 * PPM < 10^38`` (n up to ~10^10 rows — document or
    sample beyond), and the emit goes through the checked BIGINT cast.

    Scale shape: one (row, col)-grain map-side-combined count (the only
    corpus-sized exchange), two category-grain marginal aggregates
    joined back AQE-sized, one grouping-free reduce. NULL categories
    count as real categories (a NULL lang IS a mix shift); rows where
    BOTH are null still form the (NULL, NULL) cell.

    Returns one row ``(n, n_row_cats, n_col_cats, dof, chi2_ppm)``.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    obs = df.groupBy(
        F.col(row_col).alias("__r"), F.col(col_col).alias("__c")
    ).agg(F.count(F.lit(1)).alias("__o"))
    rm = obs.groupBy("__r").agg(F.sum("__o").alias("__rn"))
    cm = obs.groupBy("__c").agg(F.sum("__o").alias("__cn"))
    # null-safe joins: NULL categories are legitimate cells
    j = obs.join(rm, obs["__r"].eqNullSafe(rm["__r"]), "inner").drop(
        rm["__r"]
    ).join(cm, obs["__c"].eqNullSafe(cm["__c"]), "inner").drop(cm["__c"])
    raw_cell = F.expr(
        f"CAST(__o AS DECIMAL(38,0)) * __o * __n * {PPM} "
        "DIV (CAST(__rn AS DECIMAL(38,0)) * __cn)"
    )
    # overflow guard: past the documented n^3*PPM < 10^38 bound,
    # non-ANSI Spark turns the DECIMAL(38,0) product into a silent NULL
    # that F.sum would skip — a silently WRONG statistic. __o/__n/__rn/
    # __cn are counts (never null), so a NULL term IS overflow: fail
    # loudly like the rest of the checked-cast family (ADVICE r10).
    per_cell = F.when(raw_cell.isNotNull(), raw_cell).otherwise(
        F.raise_error(
            F.lit(
                "chi2_ppm: per-cell DECIMAL(38,0) overflow — "
                f"n^3 * PPM ({PPM}) exceeds 10^38; sample the input"
            )
        )
    )
    tot = rm.agg(
        F.sum("__rn").alias("__n"),
        F.count(F.lit(1)).alias("n_row_cats"),
    )
    ncols = cm.agg(F.count(F.lit(1)).alias("n_col_cats"))
    cells = j.crossJoin(F.broadcast(tot)).select(
        per_cell.alias("__t"), "__n", "n_row_cats"
    )
    agg = cells.groupBy("__n", "n_row_cats").agg(
        F.sum("__t").alias("__sum_t")
    )
    return agg.crossJoin(F.broadcast(ncols)).select(
        F.col("__n").alias("n"),
        "n_row_cats",
        "n_col_cats",
        (
            (F.col("n_row_cats") - 1) * (F.col("n_col_cats") - 1)
        ).alias("dof"),
        checked_long(
            F.expr(f"__sum_t - CAST(__n AS DECIMAL(38,0)) * {PPM}"),
            context="chi2_ppm",
        ).alias("chi2_ppm"),
    )


def mann_whitney_u2(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    bucket_width: int = 1000,
) -> DataFrame:
    """EXACT two-sample MANN-WHITNEY U (Wilcoxon rank-sum) between two
    groups' value distributions, in DOUBLED integer units — the
    location-shift drift test that complements :func:`ks_statistic`'s
    sup-norm: KS asks "did the distribution change anywhere?", U asks
    "did one side stochastically dominate?" (the effect direction KS
    throws away).

    CONTRACT: ties take the standard AVERAGE (mid) rank, which is
    half-integral — so the emitted statistic is ``u2 = 2*U`` (always an
    exact integer; halve client-side). With per-value counts ``ca, cb``
    and the exclusive both-group prefix ``c_below``:
    ``2*R_a = sum_v ca(v) * (2*c_below(v) + t(v) + 1)`` where
    ``t = ca + cb``, and ``u2_a = 2*R_a - n_a*(n_a+1)``,
    ``u2_b = 2*n_a*n_b - u2_a`` (the standard identity, so both sides
    replay from one pass). All DECIMAL(38,0); exactness needs
    ``n^2 < 10^38`` (always, for BIGINT counts); emitted through the
    checked BIGINT cast (u2 <= 2*n_a*n_b, so n_a*n_b < 4.6e18 — beyond
    that the statistic itself outgrows int64 and the cast raises).

    Scale shape (shared with :func:`ks_statistic`): the two-phase
    prefix sum of :func:`_two_sample_prefix`, then one 1-row reduce.
    Raises ``ValueError`` on an empty side (statistic undefined;
    Spark/DuckDB would diverge) and on NULL bucket keys (non-numeric
    values have no rank).

    Returns one row ``(n_a, n_b, u2_a, u2_b, auc_ppm)`` — ``auc_ppm``
    is the common-language effect size ``U_a / (n_a*n_b)`` in exact
    ppm: the probability a random group-a value outranks a random
    group-b value (ties half-weighted) — exactly the ROC AUC when
    group_a is the positive class and the value is the score.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    cum, na, nb = _two_sample_prefix(
        df, group_col, value_col, group_a, group_b, bucket_width,
        "mann_whitney_u2",
    )
    # exclusive both-group prefix: inclusive cum minus this value's own t
    t = F.col("ca") + F.col("cb")
    r2 = cum.select(
        F.expr("CAST(ca AS DECIMAL(38,0))").alias("__ca_d"),
        ((F.col("cum_a") + F.col("cum_b") - t) * 2 + t + F.lit(1)).alias(
            "__2r_term"
        ),
    ).agg(F.sum(F.col("__ca_d") * F.col("__2r_term")).alias("__2ra"))
    u2a = F.expr(f"__2ra - CAST({na} AS DECIMAL(38,0)) * {na + 1}")
    return r2.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        u2a.alias("__u2a"),
    ).select(
        "n_a",
        "n_b",
        checked_long(F.col("__u2a"), context="mann_whitney u2_a").alias(
            "u2_a"
        ),
        checked_long(
            F.expr(f"CAST(2 AS DECIMAL(38,0)) * {na} * {nb} - __u2a"),
            context="mann_whitney u2_b",
        ).alias("u2_b"),
        # the common-language effect size rides along for free:
        # AUC = U_a / (n_a*n_b) = P(a > b) + P(a == b)/2 — the exact
        # probability a random group-a value outranks a random group-b
        # value (ties half-weighted); u2_a >= 0 so DIV floor == trunc
        checked_long(
            F.expr(
                f"(__u2a * {PPM}) "
                f"DIV (CAST(2 AS DECIMAL(38,0)) * {na} * {nb})"
            ),
            context="mann_whitney auc_ppm",
        ).alias("auc_ppm"),
    )


def autocorr_ppm(
    df: DataFrame,
    group_cols,
    value_col: str,
    order_col: str,
    *,
    lag: int = 1,
    tiebreak_cols,
) -> DataFrame:
    """Per-group lag-``k`` AUTOCORRELATION in exact scaled ppm — the
    serial-dependence detector ("do high-value events cluster in
    time?", "is the series mean-reverting?") that complements the
    monotone-trend Spearman: trend asks "drifting?", ACF asks
    "self-similar at lag k?".

    CONTRACT (exact cross-multiplied integers, no float mean): with
    ``S = sum(x)`` over the FULL group of ``n`` rows, the centered
    products are scaled by ``n``:
    ``num = sum over the n-k lagged pairs of (n*x_t - S)*(n*x_{t-k} - S)``
    ``den = sum over ALL n rows of (n*x_t - S)^2``
    ``acf_ppm = sign(num) * (|num| * PPM DIV den)`` — the
    sign-split keeps DIV truncation toward zero identical in Spark and
    DuckDB (their negative-quotient conventions differ). This is the
    standard ACF estimator (denominator over the full series) up to
    exact integer truncation; order is the TOTAL order ``(order_col,
    *tiebreak_cols)`` so the lag pairing is deterministic. All
    DECIMAL(38,0); exactness needs ``n^3 * x_max^2 * PPM <
    10^38`` (cents-scale values pass to n ~ 10^8; sample or pre-
    aggregate beyond). Groups with ``n <= lag`` or zero variance
    (``den = 0``) are dropped — the statistic is undefined there and
    Spark's NULL DIV vs DuckDB's division error would diverge.

    Scale shape: ONE window sort per group partition (the lag), reused
    by the sum/count aggregates on the same keys, then a keyed reduce.
    NULL value or order rows are excluded up front.

    Returns ``(*group_cols, n, n_pairs, acf_ppm)``.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    gc = list(group_cols)
    ties = list(tiebreak_cols)
    if not ties:
        raise ValueError("tiebreak_cols must make the lag order total")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(
        *gc,
        F.col(value_col).cast("long").alias("__x"),
        order_col,
        *ties,
    )
    w = Window.partitionBy(*gc).orderBy(
        F.col(order_col), *[F.col(t) for t in ties]
    )
    lagged = base.select(
        *gc, "__x", F.lag("__x", lag).over(w).alias("__xl")
    )
    agg = lagged.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__s"),
        F.count("__xl").alias("n_pairs"),
        # raw moments: centered sums are recovered exactly below
        F.sum(F.expr("CAST(__x AS DECIMAL(38,0)) * __x")).alias("__sxx"),
        F.sum(
            F.expr("CAST(__x AS DECIMAL(38,0)) * __xl")
        ).alias("__sxy"),
        F.sum(F.when(F.col("__xl").isNotNull(), F.col("__x"))).alias(
            "__sx_p"
        ),
        F.sum("__xl").alias("__sl_p"),
    )
    # num = n^2*sxy - n*S*(sx_p + sl_p) + (n-k)*S^2
    # den = n^2*sxx - n*S*S*2/2 ... = n^2*sxx - 2*n*S*S + n*S^2
    #     = n^2*sxx - n*S^2
    num = F.expr(
        "CAST(n AS DECIMAL(38,0)) * n * __sxy "
        "- CAST(n AS DECIMAL(38,0)) * __s * (__sx_p + __sl_p) "
        "+ CAST(n_pairs AS DECIMAL(38,0)) * __s * __s"
    )
    den = F.expr(
        "CAST(n AS DECIMAL(38,0)) * n * __sxx "
        "- CAST(n AS DECIMAL(38,0)) * __s * __s"
    )
    out = (
        agg.filter(F.col("n") > lag)
        .withColumn("__num", num)
        .withColumn("__den", den)
        .filter(F.col("__den") != 0)
    )
    return out.select(
        *gc,
        "n",
        "n_pairs",
        checked_long(
            F.when(
                F.col("__num") >= 0,
                F.expr(f"(__num * {PPM}) DIV __den"),
            ).otherwise(
                -F.expr(f"((- __num) * {PPM}) DIV __den")
            ),
            context="autocorr acf_ppm",
        ).alias("acf_ppm"),
    )


def cohens_kappa_ppm(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """COHEN'S KAPPA chance-corrected agreement between two categorical
    columns, in exact scaled ppm — the label-quality gate for "does the
    cheap heuristic agree with the gold label beyond chance?" (raw
    accuracy rewards majority-class collapse; kappa does not).

    CONTRACT: ``kappa = (n*sum_diag - sum_k rm_k*cm_k) / (n^2 -
    sum_k rm_k*cm_k)`` in cross-multiplied integers, emitted as
    ``kappa_ppm = sign(num) * (|num| * PPM DIV den)`` (sign-split
    DIV, truncation toward zero in both engines). NULL is a REAL
    category (chi2_ppm's convention) and the diagonal is null-safe:
    a (NULL, NULL) pair counts as agreement. Like chi2, only OBSERVED
    (a, b) cells materialize — the marginal product sum needs only the
    per-category marginals, never a category cross join. All
    DECIMAL(38,0); exact for ``n^2 * PPM < 10^38``. Raises
    ``ValueError`` via execution-time guard when den = 0 (both raters
    constant — kappa undefined; Spark NULL vs DuckDB error would
    diverge).

    Returns one row ``(n, n_cats_a, n_cats_b, kappa_ppm)``.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    obs = df.groupBy(
        F.col(rater_a_col).alias("__a"), F.col(rater_b_col).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__o"))
    am = obs.groupBy("__a").agg(F.sum("__o").alias("__an"))
    bm = obs.groupBy("__b").agg(F.sum("__o").alias("__bn"))
    # marginal product sum: join the two marginals on CATEGORY EQUALITY
    # (null-safe) — only categories present on BOTH sides contribute to
    # sum_k rm_k*cm_k, the standard kappa expected-agreement term
    mm = am.join(
        bm, am["__a"].eqNullSafe(bm["__b"]), "inner"
    ).agg(
        F.coalesce(
            F.sum(F.expr("CAST(__an AS DECIMAL(38,0)) * __bn")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__mm")
    )
    diag = obs.agg(
        F.sum("__o").alias("n"),
        F.coalesce(
            F.sum(
                F.when(F.col("__a").eqNullSafe(F.col("__b")), F.col("__o"))
            ),
            F.lit(0),
        ).alias("__d"),
    )
    na = am.agg(F.count(F.lit(1)).alias("n_cats_a"))
    nb = bm.agg(F.count(F.lit(1)).alias("n_cats_b"))
    j = (
        diag.crossJoin(F.broadcast(mm))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    num = F.expr("CAST(n AS DECIMAL(38,0)) * __d - __mm")
    # den = n^2 - sum_k rm_k*cm_k >= 0 by Cauchy-Schwarz (marginals
    # each sum to n), with equality exactly when both raters are
    # constant on the same category — the undefined case, raised loudly
    den = F.expr("CAST(n AS DECIMAL(38,0)) * n - __mm")
    out = j.withColumn("__num", num).withColumn(
        "__den",
        F.when(den != 0, den).otherwise(
            F.raise_error(
                F.lit(
                    "cohens_kappa_ppm: expected agreement is 1 (both "
                    "raters constant on one category) — kappa is "
                    "undefined"
                )
            )
        ),
    )
    return out.select(
        "n",
        "n_cats_a",
        "n_cats_b",
        checked_long(
            F.when(
                F.col("__num") >= 0,
                F.expr(f"(__num * {PPM}) DIV __den"),
            ).otherwise(
                -F.expr(f"((- __num) * {PPM}) DIV __den")
            ),
            context="cohens_kappa kappa_ppm",
        ).alias("kappa_ppm"),
    )


def pettitt_changepoint(
    df: DataFrame,
    group_cols,
    value_col: str,
    order_col: str,
    *,
    tiebreak_cols,
) -> DataFrame:
    """Per-group PETTITT rank-based changepoint LOCALIZATION in exact
    integers — "WHERE did this series shift?", the question the CUSUM
    drift score (cusum_hourly_events) flags but does not answer.
    Pettitt's statistic is the Mann-Whitney U between the first ``t``
    and last ``n - t`` observations, swept over every split point:
    nonparametric, rank-only, no distributional assumption.

    CONTRACT: with DOUBLED midranks ``r2`` (average-rank ties kept
    integral, :func:`mann_whitney_u2`'s convention) over the group's
    values, the sweep statistic at time position ``t`` is
    ``u_t = sum_{i<=t} r2_i - t*(n+1)`` — EXACTLY the classic
    ``U_t = 2*sum(R_i) - t*(n+1)`` (since ``r2 = 2R``), always an
    integer even under half-integral midranks; the emitted changepoint
    is ``argmax |u_t|`` over ``t in 1..n-1`` with the SMALLEST t on
    ties, and ``k_stat = max |u_t|`` is the classic Pettitt K
    unscaled. Compare client-side against the usual
    ``p ~ 2*exp(-6K^2/(n^3+n^2))``. Time order is the TOTAL order
    ``(order_col, *tiebreak_cols)``. All arithmetic fits DECIMAL(38,0)
    for any BIGINT n; emit is the checked BIGINT cast. Groups with
    ``n < 2`` are dropped (no interior split exists).

    Scale shape: one (group, value)-grain count + per-group value-order
    window for the midranks (vocabulary-of-values-sized), a row-grain
    join back on (group, value), ONE time-order window for the prefix
    sum, a keyed max-struct reduce. NULL value or order rows are
    excluded up front.

    Returns ``(*group_cols, n, k_stat, t_change)`` — ``t_change`` is
    the 1-based position of the LAST point of the pre-change segment
    in the (order_col, tiebreak) order.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    gc = list(group_cols)
    ties = list(tiebreak_cols)
    if not ties:
        raise ValueError("tiebreak_cols must make the time order total")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(*gc, F.col(value_col).alias("__v"), order_col, *ties)
    # `base` is read twice (rank census + the rank join back) and is
    # deliberately NOT checkpointed (r12 A/B, VERDICT r11 #8): for a
    # scan-backed caller frame the second read is one more column-
    # pruned scan, while a checkpoint writes + reads the full row-grain
    # stream once and pins it — isolated interleaved min-of-5 measured
    # a wash (no-ckpt 1.66 s vs ckpt 1.72 s min), so the branch-point
    # convention does not apply here. Callers with an EXPENSIVE derived
    # frame should checkpoint before calling.
    vc = base.groupBy(*gc, "__v").agg(F.count(F.lit(1)).alias("__c"))
    wv = (
        Window.partitionBy(*gc)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # doubled midrank of value v: 2*(#below) + (#tied) + 1
    r2v = vc.withColumn("__cum", F.sum("__c").over(wv)).select(
        *gc,
        "__v",
        (
            (F.col("__cum") - F.col("__c")) * 2 + F.col("__c") + F.lit(1)
        ).alias("__r2"),
    )
    # null-safe rank join: a NULL group key is a group (the repo's
    # null-safe-group convention) — a name-list join would drop it.
    # r2v shares base's lineage (self-join): RENAME its keys first so
    # the join condition is unambiguous by construction
    from functools import reduce as _reduce

    r2k = r2v.select(
        *[F.col(c).alias(f"__k{i}") for i, c in enumerate(gc)],
        F.col("__v").alias("__v2"),
        "__r2",
    )
    cond = _reduce(
        lambda a, b: a & b,
        [
            F.col(c).eqNullSafe(F.col(f"__k{i}"))
            for i, c in enumerate(gc)
        ]
        + [F.col("__v").eqNullSafe(F.col("__v2"))],
    )
    rows = base.join(r2k, cond).select(
        *gc, "__v", F.col(order_col), *[F.col(t) for t in ties], "__r2"
    )
    wt = Window.partitionBy(*gc).orderBy(
        F.col(order_col), *[F.col(t) for t in ties]
    )
    # n via an unbounded count over the SAME partition keys — no
    # group-total join (and no null-safety hole), one reused exchange
    swept = rows.select(
        *gc,
        F.row_number().over(wt).alias("__t"),
        F.sum("__r2")
        .over(wt.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__pre"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy(*gc).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    u = swept.filter(F.col("__t") < F.col("n")).select(
        *gc,
        "n",
        "__t",
        F.abs(
            F.expr("CAST(__pre AS DECIMAL(38,0)) - CAST(__t AS "
                   "DECIMAL(38,0)) * (n + 1)")
        ).alias("__au"),
    )
    best = u.groupBy(*gc, "n").agg(
        F.max(F.struct(F.col("__au"), (-F.col("__t")).alias("__negt")))
        .alias("__b")
    )
    return best.select(
        *gc,
        "n",
        checked_long(
            F.col("__b.__au"), context="pettitt k_stat"
        ).alias("k_stat"),
        (-F.col("__b.__negt")).cast("long").alias("t_change"),
    )


def gini_concentration_ppm(
    df: DataFrame,
    group_cols,
    value_col: str,
    *,
    tiebreak_cols,
) -> DataFrame:
    """Per-group GINI CONCENTRATION coefficient (the Lorenz-curve
    income Gini) of a NON-NEGATIVE value column, in exact ppm — "is
    the event/revenue/token mass spread out or owned by a few rows?".
    Distinct from :func:`gini_impurity` (categorical diversity): this
    is inequality of a NUMERIC mass across rows.

    CONTRACT: with values sorted ascending (total order via
    ``(value, *tiebreak_cols)`` — permutations among tied values leave
    the statistic unchanged, the tiebreak just pins the plan),
    ``gini_ppm = (2*sum(i*x_i) - (n+1)*S) * PPM DIV (n*S)``
    where ``S = sum(x)`` — the standard rank formula, all
    cross-multiplied DECIMAL(38,0) (exact while ``n^2 * x_max *
    PPM < 10^38``), numerator >= 0 so DIV floor == trunc; emit
    through the checked BIGINT cast. NEGATIVE values raise at
    execution (the Lorenz curve is undefined below zero — a silent
    wrong number otherwise); groups with ``S = 0`` (all zeros) are
    dropped (0/0), groups with one row emit 0.

    Scale shape: one per-group value-order window (row_number + prefix
    via the same sort), one keyed reduce. NULL values are excluded up
    front.

    Returns ``(*group_cols, n, sum_value, gini_ppm)``.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    gc = list(group_cols)
    ties = list(tiebreak_cols)
    if not ties:
        raise ValueError("tiebreak_cols must make the value order total")
    guarded = F.when(
        F.col(value_col) >= 0, F.col(value_col).cast("long")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "gini_concentration_ppm: negative value ("
                ),
                F.col(value_col).cast("string"),
                F.lit(") — the Lorenz Gini is defined for non-negative "
                      "mass; filter or shift first"),
            )
        )
    )
    base = df.filter(F.col(value_col).isNotNull()).select(
        *gc, guarded.alias("__x"), *ties
    )
    w = Window.partitionBy(*gc).orderBy(
        F.col("__x"), *[F.col(t) for t in ties]
    )
    ranked = base.select(
        *gc, "__x", F.row_number().over(w).alias("__i")
    )
    agg = ranked.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("sum_value"),
        F.sum(
            F.expr("CAST(__i AS DECIMAL(38,0)) * __x")
        ).alias("__ix"),
    )
    num = F.expr(
        "CAST(2 AS DECIMAL(38,0)) * __ix "
        "- (CAST(n AS DECIMAL(38,0)) + 1) * sum_value"
    )
    return (
        agg.filter(F.col("sum_value") > 0)
        .withColumn("__num", num)
        .select(
            *gc,
            "n",
            "sum_value",
            checked_long(
                F.expr(
                    f"(__num * {PPM}) "
                    "DIV (CAST(n AS DECIMAL(38,0)) * sum_value)"
                ),
                context="gini_concentration gini_ppm",
            ).alias("gini_ppm"),
        )
    )


def fano_factor_ppm(
    df: DataFrame,
    group_cols,
    ts_col: str,
    *,
    bucket: str = "hour",
) -> DataFrame:
    """Per-group FANO FACTOR (index of dispersion, variance/mean) of
    per-``bucket`` event counts, in exact ppm — the burstiness gate: a
    Poisson-steady stream sits at 1e6, clumped/bursty arrivals blow
    past it, metronome-regular traffic (bots) sits far below. The
    dispersion complement of the seasonality census (which asks WHEN
    the mass lands, not HOW CLUMPED it is).

    CONTRACT: buckets are ``date_trunc(bucket, ts)``; ONLY buckets
    with at least one event enter (a true zero-inflated Fano needs the
    observation window's empty buckets — that is a different, windowed
    contract; this one is the occupied-bucket dispersion, documented
    and replayed identically by the oracle). With per-bucket counts
    ``c_j``, ``m`` buckets, ``C = sum(c)``:
    ``fano_ppm = (m*sum(c^2) - C^2) * PPM DIV (m*C)`` — the
    population variance/mean cross-multiplied (numerator >= 0 by
    Cauchy-Schwarz, DIV floor == trunc). DECIMAL(38,0); exact while
    ``m * C^2 * PPM < 10^38``. Groups need ``m >= 1`` and
    ``C > 0`` by construction (occupied buckets only).

    Scale shape: one (group, bucket)-grain map-combined count — the
    only row-sized exchange — then a keyed reduce. NULL timestamps are
    excluded.

    Returns ``(*group_cols, n_buckets, n_events, fano_ppm)``.

    Reference scope note: no statistics exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    gc = list(group_cols)
    b = df.filter(F.col(ts_col).isNotNull()).select(
        *gc, F.date_trunc(bucket, F.col(ts_col)).alias("__bkt")
    )
    grain = b.groupBy(*gc, "__bkt").agg(F.count(F.lit(1)).alias("__c"))
    agg = grain.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("__c").alias("n_events"),
        F.sum(F.expr("CAST(__c AS DECIMAL(38,0)) * __c")).alias("__sq"),
    )
    return agg.select(
        *gc,
        "n_buckets",
        "n_events",
        checked_long(
            F.expr(
                "((CAST(n_buckets AS DECIMAL(38,0)) * __sq "
                "- CAST(n_events AS DECIMAL(38,0)) * n_events) "
                f"* {PPM}) "
                "DIV (CAST(n_buckets AS DECIMAL(38,0)) * n_events)"
            ),
            context="fano_factor fano_ppm",
        ).alias("fano_ppm"),
    )
