"""Bounded-state frequency sketching: exact heavy hitters via a
Misra-Gries candidate pass.

Reference scope note: the reference library has no sketch/streaming-
summary operator of any kind (its aggregations are the diff's flag
counts, ``/root/reference/find_datacol_diff.py:118``); this is a
north-star extension for the corpus-statistics workload (stop-gram
discovery, contamination shingle shortlists, hot-key detection before a
skewed join).

Why not just ``groupBy(item).count()``: the exact aggregate's shuffle
carries one row per DISTINCT item per partition. For corpus n-grams at
100 TB the distinct-item set is itself corpus-scale (trigram vocabulary
grows near-linearly with data), so the "vocabulary-sized shuffle" that
makes :func:`~..corpus.top_vocab` cheap stops being small exactly when
the data gets big. Heavy hitters ("every item occurring in at least a
phi fraction of all occurrences") can instead be answered with TWO
corpus scans and O(1/phi) state per task, independent of the distinct
count:

1. **Sketch pass** — each partition runs Misra-Gries with
   ``k = ceil(phi_den/phi_num)`` counters (Misra & Gries 1982,
   "Finding repeated elements"; the Space-Saving/MG family survey is
   Cormode & Hadjieleftheriou VLDB'08). MG guarantees every item with
   local count > N_p/(k+1) survives the partition's sketch; any item
   with GLOBAL count > N/(k+1) must exceed that bound in at least one
   partition (pigeonhole over the partition split of its occurrences),
   and the phi threshold N*phi_num/phi_den is strictly above N/(k+1)
   by the choice of k — so the union of per-partition survivors is a
   SUPERSET of the true heavy hitters. Sketch output is bounded:
   <= k items + one total-count row per task, collected to the driver
   (the same bounded-scalar-collect contract as the Bloom word fold in
   ``prune.py``).
2. **Count pass** — exact occurrence counts of the candidate set only,
   with the candidate filter applied BEFORE the aggregate's exchange
   (an ``isin`` literal for small candidate sets — constant-folded,
   map-side kill, same move as the Bloom-pruned semi join; a broadcast
   semi join past ~4k candidates). The counts are exact, so the final
   ``cnt * phi_den >= phi_num * N`` cut (integer cross-multiply, no
   float ratio) returns EXACTLY the true heavy hitters — the sketch
   only ever bounds the second pass's key space, never the answer.

The MG loop is a per-row Python fold inside Arrow-batched
``mapInPandas`` — deliberately: MG's evict-decrement step is a data-
dependent mutation of a bounded dict, not expressible as a Column
expression, and the alternative "exact per-partition counts, prune to
top-k" (a ``groupBy(spark_partition_id(), item)``) pays the corpus-
scale distinct-set exchange this operator exists to avoid. The Python
cost is one dict op per occurrence with no per-row Python<->JVM
boundary (Arrow batches); the eviction sweep is O(k) but amortized
O(1) per occurrence (each decrement is paid for by a prior increment).
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import checked_long, md5_int60

__all__ = [
    "heavy_hitters",
    "heavy_hitters_by",
    "heavy_hitters_from_summary",
    "merge_mg_summaries",
    "misra_gries_sketch",
    "misra_gries_sketch_by",
]

# past this many candidates an isin literal stops constant-folding
# cheaply (plan size grows linearly); switch to a broadcast semi join
_ISIN_CANDIDATE_CAP = 4096


def _mg_fold(state: dict, arr, k: int) -> int:
    """Fold one item array into a Misra-Gries counter dict (in place);
    returns the number of NON-NULL items consumed. Null elements are
    SKIPPED — not an occurrence, not counted into any total — so the
    sketch's ``item IS NULL`` total-row sentinel can never collide with
    a data value. The single shared hot loop of both sketch variants."""
    n = 0
    for item in arr:
        if item is None:
            continue
        n += 1
        c = state.get(item)
        if c is not None:
            state[item] = c + 1
        elif len(state) < k:
            state[item] = 1
        else:
            dead = []
            for key, v in state.items():
                if v == 1:
                    dead.append(key)
                else:
                    state[key] = v - 1
            for key in dead:
                del state[key]
    return n


def _resolve_k(phi_num: int, phi_den: int, k: int | None) -> int:
    """Validate phi and resolve the MG capacity; shared by both
    heavy-hitter variants."""
    if not (0 < phi_num < phi_den):
        raise ValueError(
            f"need 0 < phi_num < phi_den, got {phi_num}/{phi_den}"
        )
    k_min = math.ceil(phi_den / phi_num)
    if k is None:
        return k_min
    if k < k_min:
        raise ValueError(
            f"k={k} breaks the superset guarantee for phi="
            f"{phi_num}/{phi_den}; need k >= {k_min}"
        )
    return k


def misra_gries_sketch(
    df: DataFrame, items_col: str, *, k: int
) -> DataFrame:
    """Per-partition Misra-Gries summaries over an ``array<string>``
    column. Returns ``(item, wt)`` rows: per partition, up to ``k``
    surviving candidate items (``wt`` = residual counter, a LOWER
    bound on the item's local count) plus one ``item IS NULL`` row
    whose ``wt`` is the partition's total occurrence count. Null array
    elements are skipped — not an occurrence, not counted into the
    total — so the sentinel row is unambiguous. Bounded output:
    <= (k + 1) rows per partition regardless of data volume.

    Survivor guarantee (Misra & Gries 1982): every item whose count in
    the partition exceeds ``N_p / (k + 1)`` is present in the summary.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def sketch(batches: Iterator) -> Iterator:
        import pandas as pd

        state: dict = {}
        total = 0
        for pdf in batches:
            for arr in pdf[items_col]:
                if arr is None:
                    continue
                total += _mg_fold(state, arr, k)
        yield pd.DataFrame(
            {
                "item": list(state) + [None],
                "wt": [int(v) for v in state.values()] + [total],
            }
        )

    return df.select(items_col).mapInPandas(sketch, "item string, wt long")


def heavy_hitters(
    df: DataFrame,
    items_col: str,
    *,
    phi_num: int,
    phi_den: int,
    k: int | None = None,
) -> DataFrame:
    """EXACT counts of every item occurring in at least
    ``phi_num/phi_den`` of all occurrences of ``items_col`` (an
    ``array<string>`` column), computed in two corpus scans with
    O(phi_den/phi_num) state per task — see the module docstring for
    why this beats the exact aggregate at corpus-scale vocabularies.

    Returns ``(item, cnt)``; ``cnt`` is the item's exact global
    occurrence count, and the result set is exactly
    ``{item : cnt * phi_den >= phi_num * N}`` (N = total occurrences)
    — the sketch bounds the second pass's key space, never the answer.
    Null array elements are not occurrences (skipped in the sketch;
    they can never match a candidate in the count pass).
    """
    k = _resolve_k(phi_num, phi_den, k)

    # sketch pass: bounded rows per partition, bounded driver collect
    summary = misra_gries_sketch(df, items_col, k=k).collect()
    return _count_pass(df, items_col, summary, phi_num, phi_den)


def heavy_hitters_from_summary(
    df: DataFrame,
    items_col: str,
    summary,
    *,
    phi_num: int,
    phi_den: int,
) -> DataFrame:
    """Exact heavy hitters from a PRE-BUILT Misra-Gries summary — the
    count pass alone, for summaries maintained elsewhere (the final
    state of ``streaming.continuous_heavy_hitters``, a summary merged
    across days with :func:`merge_mg_summaries`, ...). ``summary`` is
    an iterable of ``(item, wt)`` rows in the sketch convention
    (``item IS NULL`` rows carry totals). The caller must have built
    the summary with ``k >= ceil(phi_den/phi_num)`` counters or the
    superset guarantee — and therefore exactness — does not hold;
    ``df`` must be the exact corpus the summary summarizes."""
    _resolve_k(phi_num, phi_den, None)
    return _count_pass(df, items_col, list(summary), phi_num, phi_den)


def _count_pass(
    df: DataFrame, items_col: str, summary, phi_num: int, phi_den: int
) -> DataFrame:
    """Shared exact count pass: candidate filter BEFORE the exchange
    (map-side kill), then the integer cross-multiplied phi cut."""
    total = sum(r["wt"] for r in summary if r["item"] is None)
    candidates = sorted({r["item"] for r in summary if r["item"] is not None})

    spark = df.sparkSession
    if total == 0 or not candidates:
        return spark.createDataFrame([], "item string, cnt long")

    # no_alias_inline fence: the explode's inferred size() filter would
    # otherwise re-inline a caller-projected gram chain below this
    # projection and re-evaluate it per scan row (the
    # reinlined_generator_filter lint class)
    from ..sources import no_alias_inline

    exploded = df.select(
        no_alias_inline(
            F.col(items_col) if isinstance(items_col, str) else items_col
        ).alias("__items")
    ).select(F.explode("__items").alias("item"))
    if len(candidates) <= _ISIN_CANDIDATE_CAP:
        filtered = exploded.filter(F.col("item").isin(candidates))
    else:
        cand_df = spark.createDataFrame(
            [(c,) for c in candidates], "item string"
        )
        filtered = exploded.join(F.broadcast(cand_df), "item", "semi")
    return (
        filtered.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * F.lit(phi_den) >= F.lit(phi_num * total))
    )


def merge_mg_summaries(states: list[DataFrame], *, k: int) -> DataFrame:
    """Merge Misra-Gries summaries (``(item, wt)`` frames in the sketch
    convention) into ONE k-counter summary — the mergeability that
    makes the sketch a streaming/multi-day state (Agarwal et al. 2012,
    "Mergeable summaries"): counters sum pointwise; if more than ``k``
    items survive, the (k+1)-th largest counter value is subtracted
    from every counter and non-positive ones drop — at most ``k``
    remain and the summed error stays <= N_total/(k+1), so the merged
    summary carries the SAME superset guarantee as a single-pass MG
    over the concatenated stream. Total rows (``item IS NULL``) sum
    exactly. Every input is summary-grain (<= partitions x (k+1)
    rows), so the merge is grain-sized work — never corpus-sized.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not states:
        raise ValueError("states must contain at least one summary")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    summed = u.groupBy("item").agg(F.sum("wt").alias("wt"))
    items = summed.filter(F.col("item").isNotNull())
    totals = summed.filter(F.col("item").isNull())
    # (k+1)-th largest counter (0 when <= k items survive): one
    # grain-sized TakeOrdered + 1-row aggregate, broadcast back
    thr = (
        items.orderBy(F.desc("wt"))
        .limit(k + 1)
        .agg(
            F.when(F.count(F.lit(1)) > k, F.min("wt"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("__t")
        )
    )
    trimmed = (
        items.crossJoin(F.broadcast(thr))
        .select("item", (F.col("wt") - F.col("__t")).alias("wt"))
        .filter(F.col("wt") > 0)
    )
    return trimmed.unionByName(totals)


def misra_gries_sketch_by(
    df: DataFrame, items_col: str, keys: list[str], *, k: int
) -> DataFrame:
    """Grouped :func:`misra_gries_sketch`: an independent k-counter MG
    summary per (partition, key-tuple). Returns ``(*keys, item, wt)``
    — per partition and key, up to ``k`` surviving candidates plus one
    ``item IS NULL`` row carrying the (partition, key)'s exact total.
    Output (and therefore the caller's collect) is bounded by
    ``n_partitions * n_keys * (k + 1)`` rows, so ``keys`` must be
    LOW-cardinality (feeds, sources, languages — the per-feed
    monitoring grain), not a high-cardinality id.

    Runs over ``mapInArrow`` rather than ``mapInPandas``: a NULLABLE
    integer key column converts to float64 in the Arrow→pandas step,
    which silently loses exactness above 2^53 and round-trips int keys
    as floats (round-5 advice). Reading the Arrow batch directly
    (``to_pylist``) preserves exact Python ints and ``None`` for every
    key type, and the output batch reuses the input's Arrow key types
    bit-for-bit."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not keys:
        raise ValueError("keys must name at least one column")
    reserved = {"item", "wt", "__total"} & set(keys)
    if reserved:
        raise ValueError(
            f"group keys clash with reserved output columns: "
            f"{sorted(reserved)}"
        )

    def sketch(batches: Iterator) -> Iterator:
        import pyarrow as pa

        states: dict = {}
        totals: dict = {}
        key_types = None
        for batch in batches:
            if key_types is None:
                key_types = [batch.schema.field(c).type for c in keys]
            key_cols = [batch.column(c).to_pylist() for c in keys]
            for key, arr in zip(
                zip(*key_cols), batch.column(items_col).to_pylist()
            ):
                if arr is None:
                    continue
                state = states.get(key)
                if state is None:
                    state = states[key] = {}
                    totals[key] = 0
                totals[key] += _mg_fold(state, arr, k)
        if key_types is None:  # empty partition
            return
        key_vals: list[list] = [[] for _ in keys]
        item_vals: list = []
        wt_vals: list[int] = []
        for key, state in states.items():
            for item, wt in state.items():
                for i, v in enumerate(key):
                    key_vals[i].append(v)
                item_vals.append(item)
                wt_vals.append(int(wt))
            for i, v in enumerate(key):
                key_vals[i].append(v)
            item_vals.append(None)
            wt_vals.append(totals[key])
        yield pa.RecordBatch.from_arrays(
            [
                *(
                    pa.array(vals, type=t)
                    for vals, t in zip(key_vals, key_types)
                ),
                pa.array(item_vals, type=pa.string()),
                pa.array(wt_vals, type=pa.int64()),
            ],
            names=[*keys, "item", "wt"],
        )

    key_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keys
    )
    return df.select(*keys, items_col).mapInArrow(
        sketch, f"{key_schema}, item string, wt long"
    )


def heavy_hitters_by(
    df: DataFrame,
    items_col: str,
    keys: list[str],
    *,
    phi_num: int,
    phi_den: int,
    k: int | None = None,
) -> DataFrame:
    """Per-group :func:`heavy_hitters`: EXACT counts of every item
    covering at least ``phi_num/phi_den`` of ITS OWN group's
    occurrences — the "which feed's hot keys" monitoring grain
    (per-source stop-grams, per-language hot shingles, per-tenant hot
    join keys before a salting decision). Same two-scan contract: a
    bounded grouped MG pass shortlists (key, item) candidates and
    carries each (partition, key)'s exact total; the count pass
    broadcast-semi-joins the candidate set (composite key, so a join
    rather than the ungrouped variant's isin literal) before its lone
    aggregate. The per-group superset guarantee is the ungrouped one
    applied within each key: every occurrence of a group routes through
    that group's own counters. Returns ``(*keys, item, cnt)``. NULL
    group-key values form their own group (null-safe joins throughout
    — an unlabeled feed still gets its hot keys reported); null array
    elements are not occurrences, as in the ungrouped variant.
    """
    k = _resolve_k(phi_num, phi_den, k)
    summary = misra_gries_sketch_by(df, items_col, keys, k=k).collect()
    totals: dict = {}
    cand_rows = []
    for r in summary:
        key = tuple(r[c] for c in keys)
        if r["item"] is None:
            totals[key] = totals.get(key, 0) + r["wt"]
        else:
            cand_rows.append((*key, r["item"]))
    spark = df.sparkSession
    out_schema_key = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keys
    )
    if not cand_rows:
        return spark.createDataFrame(
            [], f"{out_schema_key}, item string, cnt long"
        )
    # None-safe canonical order (null group keys are legitimate rows);
    # the order only serves determinism of the broadcast literal
    none_safe = lambda t: tuple((x is None, x) for x in t)
    cand = spark.createDataFrame(
        sorted(set(cand_rows), key=none_safe), f"{out_schema_key}, item string"
    )
    tot = spark.createDataFrame(
        sorted(
            ((*key, n) for key, n in totals.items()), key=none_safe
        ),
        f"{out_schema_key}, __total long",
    )
    # same no_alias_inline fence as _count_pass (keyed variant)
    from ..sources import no_alias_inline

    exploded = df.select(
        *keys,
        no_alias_inline(
            F.col(items_col) if isinstance(items_col, str) else items_col
        ).alias("__items"),
    ).select(*keys, F.explode("__items").alias("item"))
    # null-safe key equality end to end: a NULL group key is a group,
    # and plain equi joins would silently drop it
    semi_cond = F.lit(True)
    for c in keys:
        semi_cond = semi_cond & exploded[c].eqNullSafe(cand[c])
    semi_cond = semi_cond & (exploded["item"] == cand["item"])
    counted = (
        exploded.join(F.broadcast(cand), semi_cond, "semi")
        .groupBy(*keys, "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot_cond = F.lit(True)
    for c in keys:
        tot_cond = tot_cond & counted[c].eqNullSafe(tot[c])
    return (
        counted.join(F.broadcast(tot), tot_cond)
        .select(counted["*"], tot["__total"])
        .filter(F.col("cnt") * F.lit(phi_den) >= F.lit(phi_num) * F.col("__total"))
        .drop("__total")
    )


def kmv_distinct(
    df: DataFrame,
    group_cols,
    text_col: str = "text",
    *,
    k: int = 64,
) -> DataFrame:
    """Per-group K-MINIMUM-VALUES distinct-token estimator — the
    bounded-sketch cardinality answer ("how many distinct types does
    each source carry?") when the exact distinct count's
    vocabulary-sized state is the thing you can't afford. Unlike
    HyperLogLog (whose register layout is engine-private), KMV is
    DETERMINISTIC given the hash: keep the k smallest distinct 60-bit
    hashes, estimate ``D ~ (k-1) * 2^60 DIV h_k`` (Bar-Yossef et al.
    2002, the standard bottom-k estimator; relative error ~1/sqrt(k-2))
    — every step replays bit-for-bit in any engine with md5, so the
    ESTIMATE itself is oracle-checkable, not just plausible.

    CONTRACT: the hash is the repo's standard 60-bit ``md5_int60`` of
    the token; hash collisions merge (deduped on hash — deterministic
    both engines). Groups with fewer
    than ``k`` distinct hashes emit their EXACT count (the sketch is
    lossless below k). ``h_k = 0`` (all-zero md5 prefix) guards to 1
    rather than dividing by zero. ``(k-1) * 2^60`` exceeds int64 for
    k > 8, so the estimate runs in DECIMAL(38,0) and emits through the
    checked BIGINT cast.

    Same token convention as the corpus censuses (lowercased
    whitespace split, empties dropped). Scale shape: one distinct
    (group, hash) grain (map-side partial distinct — the only
    corpus-sized exchange), a per-group bottom-k window over that
    vocabulary-sized grain, a group-grain reduce.

    Returns ``(*group_cols, n_kept, kmv_distinct)``.

    Reference scope note: no sketches exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    from pyspark.sql import Window

    from .text import tokens

    if k < 2:
        raise ValueError(f"k must be >= 2 (the estimator divides by h_k "
                         f"with k-1 in the numerator), got {k}")
    gc = list(group_cols)
    tok = df.select(
        *gc,
        F.explode(
            F.filter(
                tokens(F.lower(F.col(text_col))), lambda x: x != ""
            )
        ).alias("__tok"),
    )
    hashed = tok.select(
        *gc,
        md5_int60(F.col("__tok")).alias("__h"),
    ).distinct()
    w = Window.partitionBy(*gc).orderBy("__h")
    kept = hashed.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    two60 = 1 << 60
    agg = kept.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("__hk"),
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("decimal(38,0)")
    ).otherwise(
        F.expr(
            f"CAST({k - 1} AS DECIMAL(38,0)) * {two60} "
            "DIV greatest(__hk, 1)"
        )
    )
    return agg.select(
        *gc,
        "n_kept",
        checked_long(est, context="kmv_distinct estimate").alias(
            "kmv_distinct"
        ),
    )
