"""Skew mitigation: salted equi-join for hot keys.

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``, on by
default in :func:`~pyspark_datacol_diff_spark.session.get_spark`) handles
skewed SORT-MERGE joins by splitting oversized partitions at runtime, and
map-side partial aggregation already absorbs skew for algebraic
aggregates. Manual salting remains the tool for the case AQE cannot fix:
a shuffled hash/broadcast-ineligible join where one key holds so many
rows that even a split partition's build side is a single hot key — e.g.,
joining a 100 TB event log against per-key metadata when 1% of keys carry
50% of events.

``salted_join`` replicates the SMALL side ``num_salts`` times (salt 0..
n-1) and routes each big-side row to one deterministic salt, so the hot
key's rows spread over ``num_salts`` shuffle partitions instead of one.
Cost: small side shuffles n times its size — choose n ~ (hot-key rows /
target partition rows), not "as big as possible".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import checked_long

_SALT = "__dcd_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big`` with ``small`` on ``on``, salting the join key
    ``num_salts`` ways to spread hot keys.

    The big side's salt is ``xxhash64(all columns) mod n`` —
    deterministic in the data (re-runs and retried tasks route rows
    identically), uniform even when the join key itself is constant.
    The small side is replicated once per salt via ``explode`` (no
    shuffle — the replication happens map-side before the join
    exchange). Join semantics for inner/left are identical to the
    unsalted join; right/full-outer would multiply unmatched small-side
    rows per salt, so only inner/left are allowed.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}: an "
            "outer-preserved small side would emit its unmatched rows "
            "once per salt"
        )
    big_salted = big.withColumn(
        _SALT,
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(num_salts)).cast(
            "int"
        ),
    )
    small_salted = small.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return big_salted.join(small_salted, on + [_SALT], how).drop(_SALT)


def two_stage_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    num_salts: int = 16,
) -> DataFrame:
    """Skew-proof groupBy: aggregate on ``(keys..., salt)`` first, then
    combine the per-salt partials on ``keys`` — a hot group's rows
    spread over ``num_salts`` reducers in stage 1, and stage 2 touches
    only groups x num_salts rows.

    Spark's map-side partial aggregation usually makes this unnecessary
    (each map task pre-combines its rows before the shuffle); the case
    it cannot fix is high per-task group cardinality with a hot key —
    when the partial-agg hash map spills, a single reducer still
    receives every spilled run of the hot group. This operator makes
    the two-stage shape explicit and deterministic.

    ``aggs`` maps output column -> (input column, fn) with fn in
    ``count | sum | min | max`` (the algebraically decomposable set;
    avg = sum/count by the caller, count-distinct is NOT decomposable
    this way — use the exact groupBy or HLL). The salt is a content
    hash (re-runs route rows identically). Results are bit-identical to
    the plain groupBy for integer/decimal inputs; float sums can differ
    in the last ulp (order changes), same caveat as any shuffle-order
    change.
    """
    # stage-1 partials and the stage-2 combine are exactly the
    # mergeable-state machinery of operators/incremental.py — one spec,
    # two shuffle shapes (salted here, batch-boundary there)
    from .incremental import _RECOMBINE, state_expr

    supported = {"count", "sum", "min", "max"}
    bad = {fn for _, fn in aggs.values()} - supported
    if bad:
        raise ValueError(f"two_stage_agg supports {sorted(supported)}, got {sorted(bad)}")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(num_salts)
    ).cast("int")
    stage1 = df.withColumn(_SALT, salt).groupBy(*keys, _SALT).agg(
        *[
            state_expr(src, fn).alias(f"__p_{out}")
            for out, (src, fn) in aggs.items()
        ]
    )
    return stage1.groupBy(*keys).agg(
        *[
            _RECOMBINE[fn](F.col(f"__p_{out}")).alias(out)
            for out, (src, fn) in aggs.items()
        ]
    )


def join_skew_probe(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    *,
    top: int = 20,
    metric: str = "pairs",
) -> DataFrame:
    """JOIN-SKEW DIAGNOSTIC — before shipping a join to a big cluster,
    measure which keys would dominate it: per-key row counts on both
    sides and their product (the exact number of output rows that key
    alone produces), top ``top`` keys by product. The "will this join
    blow up" probe that turns a hung-stage postmortem into a pre-flight
    check — feed the offenders to :func:`salted_join`, a skew filter,
    or AQE tuning.

    Two map-side-combined keyed aggregates (each side reduces to key
    grain BEFORE its exchange), one FULL-OUTER key-grain equi-join
    (keys on one side only still matter: n x 0 pairs is dropped rows,
    itself a finding), and a TakeOrdered top-k — never a global sort.
    The product runs in DECIMAL(38,0) (two billion-row sides would
    overflow int64) and is emitted as DECIMAL->BIGINT after the top-k
    cut through :func:`checked_long` — the top-k SURVIVORS are
    by selection the LARGEST products, exactly the values that could
    exceed int64, and non-ANSI Spark's plain cast would silently NULL
    them while the DuckDB oracle's BIGINT multiply raises. A loud
    execution-time error on overflow keeps the two engines aligned
    (ADVICE r09).

    ``metric`` picks the ranking for the top-k cut:

    - ``"pairs"`` (default): n_left * n_right — the INNER-join blow-up
      metric (one-sided keys rank 0: their rows drop from an inner
      join, a finding but not a task-size one).
    - ``"outer_rows"``: the key's OUTER-join output rows — product when
      both sides have the key, else the one-sided count. This is the
      full-outer pre-flight metric (used by ``diff(skew_probe=True)``):
      a hot key present on ONE side only still funnels all its rows to
      one task, and AQE cannot skew-split a full-outer join. Under the
      pairs metric such a key ranks 0 and hides.

    Returns ``(*on, n_left, n_right, pairs_out)`` — ``pairs_out`` =
    n_left * n_right (0 when the key is one-sided), ``metric``-ranked
    descending with ascending-key tie-break. With
    ``metric="outer_rows"`` an extra ``outer_rows`` column carries the
    rank metric itself, so one-sided hot keys (pairs_out 0) still show
    their true task-size number.

    Reference scope note: the reference's only join is the diff's
    full-outer equi-join (``find_datacol_diff.py:96``) with no skew
    handling (SURVEY.md §2.6); north-star extension surface.
    """
    if top < 1:
        raise ValueError(f"top must be >= 1, got {top}")
    if metric not in ("pairs", "outer_rows"):
        raise ValueError(
            f"metric must be 'pairs' or 'outer_rows', got {metric!r}"
        )
    lc = left.groupBy(*on).agg(F.count(F.lit(1)).alias("n_left"))
    rc = right.groupBy(*on).agg(F.count(F.lit(1)).alias("n_right"))
    both = lc.join(rc, on, "full_outer").select(
        *on,
        F.coalesce("n_left", F.lit(0)).alias("n_left"),
        F.coalesce("n_right", F.lit(0)).alias("n_right"),
    )
    prod = F.expr(
        "CAST(CAST(n_left AS DECIMAL(38,0)) * n_right AS DECIMAL(38,0))"
    )
    rank = prod
    if metric == "outer_rows":
        rank = F.expr(
            "CASE WHEN n_left > 0 AND n_right > 0 "
            "THEN CAST(CAST(n_left AS DECIMAL(38,0)) * n_right "
            "AS DECIMAL(38,0)) "
            "ELSE CAST(n_left + n_right AS DECIMAL(38,0)) END"
        )
    out_cols = [
        F.col(c) for c in on
    ] + [
        F.col("n_left"),
        F.col("n_right"),
        checked_long(
            F.col("__p"), context="join_skew_probe pairs_out"
        ).alias("pairs_out"),
    ]
    if metric == "outer_rows":
        # the ranking number IS the finding for one-sided hot keys
        # (pairs_out reads 0 for them, which looks harmless) — emit it
        # so callers/logs show the true task size (ADVICE r10)
        out_cols.append(
            checked_long(
                F.col("__rank"), context="join_skew_probe outer_rows"
            ).alias("outer_rows")
        )
    return (
        both.withColumn("__p", prod)
        .withColumn("__rank", rank)
        .orderBy(F.desc("__rank"), *[F.asc(c) for c in on])
        .limit(top)
        .select(*out_cols)
    )
