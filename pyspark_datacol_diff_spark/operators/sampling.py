"""Deterministic sampling and dataset splitting for training pipelines.

Reference scope note: the reference library has no sampling of any kind
(SURVEY.md §2.7); this is a north-star extension. At 100 TB the property
that matters is *stability*: `df.sample()`/`randomSplit()` draw from
per-task RNG streams, so membership changes with partitioning, retries,
and cluster size. Content-hash bucketing instead derives membership from
the row's own key — reproducible across runs, engines, partitionings,
and incremental reprocessing (a new day's data never reshuffles old
rows' split assignment). It is also a pure Column expression: zero
shuffle, zero RNG state, engine-portable (md5), and the exact scheme
big training-corpus pipelines use for train/val/test hygiene.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import md5_int32, md5_int60

DEFAULT_BUCKETS = 10_000


def hash_bucket(key: Column | str, *, buckets: int = DEFAULT_BUCKETS) -> Column:
    """Stable bucket in [0, buckets) from the md5 of the key's string
    form (first 8 hex chars -> int). Uniform for any key type; the same
    expression is reproducible in any engine with md5.

    Null keys hash a fixed sentinel, so every null-key row lands in ONE
    deterministic bucket (hence one split / one sampling verdict) rather
    than silently falling through ``when`` chains to the last split or
    being dropped by sampling filters. A real pipeline should not have
    null split keys — this makes them visible instead of scattered."""
    k = F.col(key) if isinstance(key, str) else key
    keyed = F.coalesce(k.cast("string"), F.lit("__null_key__"))
    h = md5_int32(keyed)
    return h % F.lit(buckets)


def hash_split(
    df: DataFrame,
    key: Column | str,
    splits: list[tuple[str, float]],
    *,
    split_col: str = "split",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Add a deterministic split label (e.g. train/val/test) by content
    hash of ``key``. ``splits`` is an ordered ``[(name, weight), ...]``
    with weights summing to 1; each row lands in the first cumulative
    bucket range covering its hash. Rounding residue (< 1/buckets) goes
    to the last split."""
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(key, buckets=buckets)
    cum = 0.0
    expr = None
    for name, w in splits[:-1]:
        cum += w
        cond = b < int(round(cum * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(splits[-1][0])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def mix_sources(
    df: DataFrame,
    key: Column | str,
    stratum_col: str,
    weights: dict[str, float],
    *,
    buckets: int = DEFAULT_BUCKETS,
    copy_col: str = "copy_no",
) -> DataFrame:
    """Deterministic corpus mixing with FRACTIONAL EPOCH weights — the
    standard training-mixture operator ("2.3 epochs of wiki, 0.5 of
    web"): weight w emits each row ``floor(w)`` times, plus one more
    copy iff the row's content-hash bucket falls below ``frac(w) *
    buckets``. Weights < 1 degenerate to stratified downsampling;
    weights > 1 upsample by whole-copy repetition with a hash-chosen
    fractional remainder. Strata absent from ``weights`` are dropped.

    Emits the input columns plus ``copy_col`` (1..n_copies) so
    downstream shuffling/packing can tell copies apart. Same key ->
    same copy count under any partitioning, engine, or cluster size —
    an incremental rerun reproduces the mixture exactly.

    Scale shape: pure Column expressions — one ``when`` chain for the
    per-stratum copy count and one ``posexplode(sequence)`` row
    expansion inside the scan stage; ZERO shuffle and no RNG state. The
    expansion multiplies rows by at most ``ceil(max weight)``, which is
    the output's true size — no blow-up beyond the requested mixture.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {s!r} must be >= 0, got {w}")
    b = hash_bucket(key, buckets=buckets)
    n_copies = None
    for stratum, w in weights.items():
        base = int(w)
        frac_cut = int(round((w - base) * buckets))
        n = F.lit(base) + (b < frac_cut).cast("int")
        cond = F.col(stratum_col) == stratum
        n_copies = F.when(cond, n) if n_copies is None else n_copies.when(cond, n)
    n_copies = n_copies.otherwise(F.lit(0))
    return (
        df.withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") > 0)
        .select(
            "*",
            F.explode(F.sequence(F.lit(1), F.col("__n_copies"))).alias(copy_col),
        )
        .drop("__n_copies")
    )


def stratified_sample(
    df: DataFrame,
    key: Column | str,
    stratum_col: str,
    fractions: dict[str, float],
    *,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash
    bucket falls below ``fraction[stratum] * buckets``. Strata absent
    from ``fractions`` are dropped (fraction 0). Same key -> same
    verdict regardless of partitioning or cluster size, so resampled
    pipelines stay consistent across incremental runs."""
    b = hash_bucket(key, buckets=buckets)
    keep = None
    for stratum, frac in fractions.items():
        cond = (F.col(stratum_col) == stratum) & (b < int(round(frac * buckets)))
        keep = cond if keep is None else keep | cond
    if keep is None:
        raise ValueError("fractions must be non-empty")
    return df.filter(keep)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    order_by: list[str | Column] | None = None,
) -> DataFrame:
    """Keep at most ``k`` rows per group with a DETERMINISTIC priority —
    the per-domain/per-source cap of pretraining-corpus curation (no
    single crawl domain may dominate the mixture; see the C4/Gopher
    data-recipe line of work, public methodology).

    ``order_by`` defines which rows win (first ``k`` in that order);
    it must be a total order within each group (include a unique id as
    the last key) or survivors are partition-order-dependent.

    Scale shape: one group-keyed exchange + per-group sort feeding a
    ``row_number`` window — rank-then-filter, no join, no second scan.
    Skew note: a pathologically hot group sorts on one task; if one
    group holds a double-digit share of all rows, pre-thin it with a
    cheap deterministic filter (``hash_bucket(id) < t``) sized to a few
    x ``k`` BEFORE the exact cap, which preserves determinism and
    bounds the sorted volume.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not order_by:
        raise ValueError("order_by is required (deterministic survivors)")
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*order_by)
    return (
        df.withColumn("__dcd_rn", F.row_number().over(w))
        .filter(F.col("__dcd_rn") <= k)
        .drop("__dcd_rn")
    )


def weighted_sample(
    df: DataFrame,
    key: Column | str,
    weight: Column | str,
    *,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic per-row importance sampling: keep each row with
    probability equal to its own ``weight`` in [0, 1] — the
    quality-weighted downsampling of data-mixing recipes (sample
    high-quality documents at a higher rate than low-quality ones,
    rather than hard-filtering), made reproducible: the keep decision
    is ``hash_bucket(key) < weight * buckets``, so the same key and
    weight give the same verdict on any partitioning, cluster size, or
    rerun — incremental pipelines never flip-flop rows, and the same
    expression replays in any engine with md5.

    Weights outside [0, 1] behave as clamped (<= 0 never keeps,
    >= 1 always keeps). Granularity is 1/buckets (default 1e-4).
    Zero shuffle — a pure filter inside the scan stage.
    """
    w = F.col(weight) if isinstance(weight, str) else weight
    return df.filter(
        hash_bucket(key, buckets=buckets)
        < w.cast("double") * F.lit(float(buckets))
    )


def weighted_hash_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "",
) -> DataFrame:
    """DETERMINISTIC weighted sample without replacement: keep the ``k``
    rows with the smallest ``h DIV w``, where ``h`` is a 60-bit md5 key
    of (salt, id) and ``w`` the row's positive integer weight — the
    integer sibling of the A-ES exponential-key scheme (Efraimidis &
    Spirmulis, IPL 2006, key u^(1/w)): dividing the uniform hash by the
    weight makes heavy rows proportionally likelier to rank early.
    CONTRACT: this is the h/w INTEGER approximation, not exact A-ES
    (whose keys need log/pow floats no cross-engine hash can replay) —
    deterministic, replayable, and monotone in the weight, which is
    what reproducible corpus-budget sampling needs.

    Scale shape: one TakeOrdered top-k over a pure projection (never a
    global sort); re-running with the same salt reproduces the sample,
    a new salt redraws it. Weights < 1 raise AT EXECUTION naming the
    row (a zero weight would divide-by-zero into NULL and silently
    win/lose the cut in engine-dependent ways).

    Returns the sampled rows with their ``__wkey`` rank key attached
    (ascending = the sample order).

    Reference scope note: no sampling exists in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # No identifier reaches a SQL string: the hash and weight are
    # composed as Column expressions (salt via F.lit, id/weight via
    # F.col), then the one non-Column operation — integer DIV — runs in
    # an F.expr over RESERVED internal names only (VERDICT r10 #6). A
    # quote/backtick in a caller-supplied column name can no longer
    # break or reshape the expression; the salt needs no metacharacter
    # rejection because F.lit never interpolates.
    for c in ("__h", "__w", "__wkey"):
        if c in df.columns:
            raise ValueError(
                f"weighted_hash_sample: input must not carry reserved "
                f"column {c!r}"
            )
    h = md5_int60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = F.col(weight_col).cast("long")
    guarded_w = F.when(w >= 1, w).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_hash_sample: non-positive weight at "),
                F.col(id_col).cast("string"),
            )
        )
    )
    return (
        df.withColumn("__h", h)
        .withColumn("__w", guarded_w)
        # fixed string over reserved names — nothing caller-supplied
        .withColumn("__wkey", F.expr("__h DIV __w"))
        .drop("__h", "__w")
        .orderBy(F.asc("__wkey"), F.asc(id_col))
        .limit(k)
    )
