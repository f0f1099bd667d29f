"""Column-level DataFrame diff — the engine's core operator.

Reproduces the query semantics of the reference library
(``/root/reference/find_datacol_diff.py`` — all line references below point
there) with an idiomatic single-pass Spark plan:

reference plan                          | this engine
----------------------------------------|---------------------------------
``fillna("")`` + sentinel ``coalesce``  | null-safe compare (``<=>`` /
(:39-40, :103-104)                      | ``coalesce`` to '' for strings)
n× ``withColumnRenamed`` loop (:42-44)  | one alias-``select``
2n ``withColumn`` + ``array_union``     | ONE ``select`` building the whole
loop (:101-115)                         | array with ``array_compact``
4 + n + 2 ``count()`` actions           | ONE ``groupBy`` each for flag and
(:136-149)                              | per-column counts (partial aggs)
``sys.exit(1)`` on error (:53,:79,:160) | typed exceptions

Output schema (reference :99-133, SURVEY.md §1.2)::

    <pk>_s1 ..., <pk>_s2 ...,
    CompColArr: array<struct<col_name:string, s1_value:string, s2_value:string>>,
    Flag: 'S1_ONLY' | 'S2_ONLY' | 'NODIFF' | ''   ('' = matched-with-diffs)

Semantic parity notes (SURVEY.md §4.4), all preserved by default:

- matched rows where a string column is null on one side and '' on the
  other are NOT a diff (reference ``fillna("")``); disable with
  ``null_equals_blank=False`` for strict ``IS DISTINCT FROM`` semantics;
- rows with any null primary-key part never equi-join; their
  ``CompColArr`` is forced empty and they land in S1_ONLY/S2_ONLY
  (reference :124 and the when-order of :132 — a row whose OWN key is
  null gets 'S1_ONLY' because the s2-null test runs first; preserved);
- duplicate primary keys fan out through the join (reference does the
  same);
- non-string columns compare natively (typed), not via string casts —
  values are stringified only in the output structs (reference :109-110).

Scale notes (100 TB): one full-outer sort-merge join is the only shuffle;
AQE handles skew and post-shuffle coalescing. No Python UDFs anywhere —
the whole plan is Catalyst expressions inside WholeStageCodegen. Neither
side of a full-outer join can be broadcast (both sides are preserved), so
shuffle size is governed by the two scans; column pruning still applies
to any column the caller excludes via ``compare_cols``/``exclude_cols``.
"""

from __future__ import annotations

import logging
from functools import reduce
from operator import or_
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    StringType,
)

from ..errors import InvalidArgumentError, PrimaryKeyError, SchemaMismatchError
from . import DIGEST_MODULUS, md5_int60

# Run-metadata log sink (reference utils.py:11-31). Logs only plan-side
# facts — the reference's count-for-logging actions were extra Spark jobs.
logger = logging.getLogger("pyspark_datacol_diff_spark.diff")

S1_SUFFIX = "_s1"
S2_SUFFIX = "_s2"
DIFF_ARRAY_COL = "CompColArr"
FLAG_COL = "Flag"

FLAG_S1_ONLY = "S1_ONLY"
FLAG_S2_ONLY = "S2_ONLY"
FLAG_NODIFF = "NODIFF"
FLAG_DIFF = ""  # reference encodes "matched but differs" as empty string


# ---------------------------------------------------------------------------
# validation / standardization
# ---------------------------------------------------------------------------

def validate_schemas(
    s1: DataFrame, s2: DataFrame, *, strict_types: bool = False
) -> None:
    """Check both inputs share one case-insensitive column-name set.

    The reference checks only ``s1 - s2`` (reference :34, asymmetric —
    documented as a latent bug in SURVEY.md §4.4); we check both
    directions and raise instead of returning ``None``.

    Same-named columns with diverging data types are logged as a warning
    (the comparison then runs through the implicit cast Spark picks for
    s1's dtype, which can silently change semantics — e.g. the
    null-equals-blank string path applied to one side only); pass
    ``strict_types=True`` to raise ``SchemaMismatchError`` instead.
    """
    c1 = {c.lower() for c in s1.columns}
    c2 = {c.lower() for c in s2.columns}
    if c1 != c2:
        raise SchemaMismatchError(only_in_s1=c1 - c2, only_in_s2=c2 - c1)
    t1 = {f.name.lower(): f.dataType for f in s1.schema.fields}
    t2 = {f.name.lower(): f.dataType for f in s2.schema.fields}
    diverged = {c: (t1[c], t2[c]) for c in t1 if t1[c] != t2[c]}
    if diverged:
        detail = ", ".join(
            f"{c}: s1={a.simpleString()} s2={b.simpleString()}"
            for c, (a, b) in sorted(diverged.items())
        )
        if strict_types:
            raise SchemaMismatchError(
                only_in_s1=set(), only_in_s2=set(), type_mismatches=diverged
            )
        logger.warning("validate_schemas: dtype divergence (%s)", detail)


def schema_diff(s1: DataFrame, s2: DataFrame) -> DataFrame:
    """Structural diff of two schemas as a REPORT (the reporting
    counterpart of :func:`validate_schemas`, which raises): one row per
    column that differs — ``(column, status, type_s1, type_s2)`` with
    status in ``{'only_in_s1', 'only_in_s2', 'type_changed'}``; an
    empty result means the schemas agree. Matching is case-insensitive
    (the engine's column-identity convention, F13); ``column`` reports
    the side-1 spelling where one exists. Types compare by full
    ``simpleString`` — nested struct/array/map element changes count
    as a type change of the top-level column, which is how a reader's
    projection would experience them.

    Driver-side by design: a schema is metadata (hundreds of fields,
    not rows), so this builds a schema-sized local DataFrame — no jobs,
    no scans; pair it with ``sources.read_parquet_evolving`` when
    reconciling landed generations.
    """
    f1 = {f.name.lower(): f for f in s1.schema.fields}
    f2 = {f.name.lower(): f for f in s2.schema.fields}
    # case-insensitive identity is only well-defined when each side is
    # itself case-unambiguous: two columns in ONE schema differing only
    # by case would silently collapse in the dict (last wins) and the
    # report could omit a real structural difference — raise instead.
    for side, schema, folded in (("s1", s1.schema, f1), ("s2", s2.schema, f2)):
        if len(schema.fields) != len(folded):
            seen: dict[str, str] = {}
            dupes = []
            for f in schema.fields:
                k = f.name.lower()
                if k in seen:
                    dupes.append(f"{seen[k]!r}/{f.name!r}")
                seen[k] = f.name
            raise InvalidArgumentError(
                f"schema_diff: {side} has case-folded duplicate column "
                f"names ({', '.join(dupes)}); case-insensitive matching "
                "is ambiguous — rename one side first"
            )
    rows = []
    for c in sorted(set(f1) | set(f2)):
        a, b = f1.get(c), f2.get(c)
        if a is None:
            rows.append((b.name, "only_in_s2", None, b.dataType.simpleString()))
        elif b is None:
            rows.append((a.name, "only_in_s1", a.dataType.simpleString(), None))
        elif a.dataType != b.dataType:
            rows.append(
                (
                    a.name,
                    "type_changed",
                    a.dataType.simpleString(),
                    b.dataType.simpleString(),
                )
            )
    return s1.sparkSession.createDataFrame(
        rows, "column string, status string, type_s1 string, type_s2 string"
    )


def suffix_columns(df: DataFrame, suffix: str) -> DataFrame:
    """Rename every column ``c`` -> ``c + suffix`` in ONE Project node.

    Replaces the reference's n× ``withColumnRenamed`` loop (:42-44) which
    builds n nested Projects that Catalyst must re-collapse.
    """
    return df.select([F.col(c).alias(c + suffix) for c in df.columns])


def standardize(s1: DataFrame, s2: DataFrame) -> dict[str, DataFrame]:
    """API-parity port of ``initialise_and_standardise_df`` (:19-56).

    Differences: raises typed errors instead of sys.exit/None, and does
    NOT mutate the data with ``fillna("")`` — null-vs-blank equality is
    instead handled at comparison time (``null_equals_blank``), keeping
    the output values faithful to the input.
    """
    validate_schemas(s1, s2)
    return {"s1": suffix_columns(s1, S1_SUFFIX), "s2": suffix_columns(s2, S2_SUFFIX)}


def gen_comp_col(
    org_src: DataFrame, pk_lst: Sequence[str]
) -> tuple[list[str], list[str], list[str]]:
    """Port of ``gen_comp_col`` (:59-80): suffixed key lists + compare cols.

    Returns compare columns in the source's column order (deterministic),
    not the reference's ``set`` order, so ``CompColArr`` element order is
    stable across runs.
    """
    if not pk_lst:
        raise InvalidArgumentError("pk_lst must not be empty")
    lower_cols = {c.lower(): c for c in org_src.columns}
    missing = [k for k in pk_lst if k.lower() not in lower_cols]
    if missing:
        raise PrimaryKeyError(f"primary key columns not found: {missing}")
    pk_lower = {k.lower() for k in pk_lst}
    s1_keys = [k + S1_SUFFIX for k in pk_lst]
    s2_keys = [k + S2_SUFFIX for k in pk_lst]
    comp_cols = [c for c in org_src.columns if c.lower() not in pk_lower]
    return s1_keys, s2_keys, comp_cols


# ---------------------------------------------------------------------------
# comparison expression
# ---------------------------------------------------------------------------

def _is_diff_expr(
    a: Column,
    b: Column,
    dtype,
    *,
    null_equals_blank: bool,
    float_tol: float | None,
) -> Column:
    """Null-safe per-column inequality.

    - strings (compat mode): ``coalesce(a,'') <> coalesce(b,'')`` —
      exactly the reference's ``fillna('') + sentinel`` outcome (:39-40,
      :103-106) without mutating data or risking sentinel collision;
    - floats/doubles with ``float_tol``: differ when exactly one side is
      null, or both non-null, not both NaN, and ``abs(a-b) > tol``.
      NaN-vs-NaN is NOT a diff (matching the default ``<=>`` path, which
      treats NaN as equal to itself); NaN vs number IS a diff
      (``abs(NaN-x) <= tol`` is false, so the not-within-tolerance arm
      catches it);
    - everything else: ``NOT (a <=> b)`` (IS DISTINCT FROM).
    """
    if isinstance(dtype, StringType) and null_equals_blank:
        return F.coalesce(a, F.lit("")) != F.coalesce(b, F.lit(""))
    if float_tol is not None and isinstance(dtype, (FloatType, DoubleType)):
        one_null = a.isNull() != b.isNull()
        both = a.isNotNull() & b.isNotNull()
        both_nan = F.isnan(a) & F.isnan(b)
        return one_null | (both & ~both_nan & ~(F.abs(a - b) <= F.lit(float_tol)))
    return ~a.eqNullSafe(b)


# ---------------------------------------------------------------------------
# the diff operator
# ---------------------------------------------------------------------------

def resolve_compare_cols(
    s1: DataFrame,
    pk: Sequence[str],
    *,
    compare_cols: Iterable[str] | None = None,
    exclude_cols: Iterable[str] | None = None,
) -> list[str]:
    """The exact compare-column list :func:`diff` will use for these
    arguments (case-insensitive include/exclude over the non-key
    columns). Exposed so summary consumers can enumerate the columns
    WITHOUT reading them out of the diff's data — the precondition for
    the explode-free single-pass summary."""
    _, _, comp_cols = gen_comp_col(s1, pk)
    if compare_cols is not None:
        want = {c.lower() for c in compare_cols}
        unknown = want - {c.lower() for c in comp_cols}
        if unknown:
            raise InvalidArgumentError(
                f"compare_cols not in schema/non-key: {sorted(unknown)}"
            )
        comp_cols = [c for c in comp_cols if c.lower() in want]
    if exclude_cols is not None:
        drop = {c.lower() for c in exclude_cols}
        comp_cols = [c for c in comp_cols if c.lower() not in drop]
    return comp_cols


def diff(
    s1: DataFrame,
    s2: DataFrame,
    pk: Sequence[str],
    *,
    compare_cols: Iterable[str] | None = None,
    exclude_cols: Iterable[str] | None = None,
    null_equals_blank: bool = True,
    float_tol: float | None = None,
    carry_unmatched: bool = False,
    skew_probe: bool = False,
    skew_probe_top: int = 10,
) -> DataFrame:
    """Full diff of two same-schema DataFrames keyed by ``pk``.

    One full-outer equi-join + ONE projection that builds the entire
    mismatch array (reference: join :96-99, then a 2n-deep withColumn
    chain :101-115 — collapsed here into a single ``select`` with
    ``array_compact``).

    ``skew_probe=True`` runs :func:`~..skew.join_skew_probe` on the key
    columns BEFORE building the join and logs (WARNING) the
    ``skew_probe_top`` heaviest keys by pair product — the documented
    pre-flight for THIS join's one structural weakness: a full-outer
    join preserves both sides, so AQE cannot skew-split it
    (SURVEY.md §2.3), and a hot key (a fat-fingered key collapse, a
    NULL-like sentinel) lands on one task with no runtime rescue. The
    probe is an EAGER action (two key-grain map-combined aggregates +
    a top-k — one extra pass over the key columns only); on a probe
    hit, pre-filter the offender keys, fix the feed, or route the hot
    keys through a separate path. Off by default: the probe pass is
    the caller's scale/latency decision, not a tax on every diff.

    ``carry_unmatched=False`` (reference parity, :124): S1_ONLY/S2_ONLY
    rows get an EMPTY ``CompColArr``. ``carry_unmatched=True`` instead
    fills the array with every compare column's surviving-side value
    (other side null) — making the diff a COMPLETE changeset from which
    :func:`apply_diff` can reconstruct s2 (CDC semantics).
    """
    validate_schemas(s1, s2)
    comp_cols = resolve_compare_cols(
        s1, pk, compare_cols=compare_cols, exclude_cols=exclude_cols
    )
    # pk already validated inside resolve_compare_cols (gen_comp_col);
    # the suffixed key lists are pure string transforms
    s1_keys = [k + S1_SUFFIX for k in pk]
    s2_keys = [k + S2_SUFFIX for k in pk]

    # Prune to only the columns we need BEFORE the join so the parquet
    # scan reads nothing extra (ReadSchema stays minimal at 100 TB).
    keep = list(pk) + comp_cols
    dtypes = {f.name.lower(): f.dataType for f in s1.select(*keep).schema.fields}
    s1n = suffix_columns(s1.select(*keep), S1_SUFFIX)
    s2n = suffix_columns(s2.select(*keep), S2_SUFFIX)

    logger.info(
        "diff: pk=%s compare_cols=%s null_equals_blank=%s float_tol=%s",
        list(pk), comp_cols, null_equals_blank, float_tol,
    )
    if skew_probe:
        from .skew import join_skew_probe

        # outer_rows metric: the diff's join is FULL-outer, so a key hot
        # on one side only still funnels to a single task — the default
        # pairs metric would rank it 0 and hide it
        offenders = join_skew_probe(
            s1.select(*pk),
            s2.select(*pk),
            list(pk),
            top=skew_probe_top,
            metric="outer_rows",
        ).collect()
        for r in offenders:
            # outer_rows is the metric the probe ranked by — a one-sided
            # hot key shows pairs_out=0 but a huge outer_rows, and the
            # latter is the task-size number (ADVICE r10)
            logger.warning(
                "diff skew probe: key=%s n_s1=%s n_s2=%s pairs_out=%s "
                "outer_rows=%s",
                tuple(r[k] for k in pk),
                r["n_left"],
                r["n_right"],
                r["pairs_out"],
                r["outer_rows"],
            )
    cond = reduce(
        lambda x, y: x & y,
        [s1n[k1] == s2n[k2] for k1, k2 in zip(s1_keys, s2_keys)],
    )
    joined = s1n.join(s2n, cond, "full_outer")

    # any-null on a composite key — same truth table as the reference's
    # null-propagating concat(*keys).isNull() (:124,:129-130)
    s1_key_null = reduce(or_, [F.col(k).isNull() for k in s1_keys])
    s2_key_null = reduce(or_, [F.col(k).isNull() for k in s2_keys])
    matched = ~s1_key_null & ~s2_key_null

    per_col_diff = {
        c: _is_diff_expr(
            F.col(c + S1_SUFFIX),
            F.col(c + S2_SUFFIX),
            dtypes[c.lower()],
            null_equals_blank=null_equals_blank,
            float_tol=float_tol,
        )
        for c in comp_cols
    }
    per_col_entries = [
        F.when(
            per_col_diff[c],
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(c + S1_SUFFIX).cast("string").alias("s1_value"),
                F.col(c + S2_SUFFIX).cast("string").alias("s2_value"),
            ),
        )
        for c in comp_cols
    ]
    # array_compact drops the nulls left by non-differing columns —
    # whole array in one expression, no iterative array_union (:112).
    empty_arr = F.array().cast(
        "array<struct<col_name:string,s1_value:string,s2_value:string>>"
    )
    if per_col_entries:
        comp_arr = F.when(matched, F.array_compact(F.array(*per_col_entries)))
        if carry_unmatched:
            side_entries = {
                suffix: F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col_name"),
                            (
                                F.col(c + S1_SUFFIX).cast("string")
                                if suffix == S1_SUFFIX
                                else F.lit(None).cast("string")
                            ).alias("s1_value"),
                            (
                                F.col(c + S2_SUFFIX).cast("string")
                                if suffix == S2_SUFFIX
                                else F.lit(None).cast("string")
                            ).alias("s2_value"),
                        )
                        for c in comp_cols
                    ]
                )
                for suffix in (S1_SUFFIX, S2_SUFFIX)
            }
            comp_arr = comp_arr.when(s2_key_null, side_entries[S1_SUFFIX]).when(
                s1_key_null, side_entries[S2_SUFFIX]
            )
        comp_arr = comp_arr.otherwise(empty_arr)
    else:
        comp_arr = empty_arr

    # Flag from the per-column predicates, NOT from size(CompColArr):
    # any_diff <=> the array is non-empty (entries are null iff the
    # column didn't differ), but keeping Flag independent of the array
    # lets Catalyst prune the whole struct/cast construction when a
    # consumer selects only Flag — flag_counts() then never builds the
    # array at all.
    any_diff = (
        reduce(or_, per_col_diff.values()) if per_col_diff else F.lit(False)
    )
    flag = (
        F.when(s2_key_null, F.lit(FLAG_S1_ONLY))  # when-order preserved (:132)
        .when(s1_key_null, F.lit(FLAG_S2_ONLY))
        .when(~any_diff, F.lit(FLAG_NODIFF))
        .otherwise(F.lit(FLAG_DIFF))
    )

    return joined.select(
        *s1_keys,
        *s2_keys,
        comp_arr.alias(DIFF_ARRAY_COL),
        flag.alias(FLAG_COL),
    )


# ---------------------------------------------------------------------------
# summary aggregations — single-pass replacements for n+6 count() actions
# ---------------------------------------------------------------------------

def flag_counts(diff_df: DataFrame) -> DataFrame:
    """``Flag -> count`` in ONE hash aggregate (vs four filter+count jobs,
    reference :136-139). Columns: ``Flag``, ``cnt``."""
    return diff_df.groupBy(FLAG_COL).agg(F.count(F.lit(1)).alias("cnt"))


def column_mismatch_counts(diff_df: DataFrame) -> DataFrame:
    """Per-column mismatch counts in ONE explode+aggregate (vs one
    filter+count job per column, reference :146-149).

    Columns: ``ColName``, ``Count`` (reference's pandas summary names,
    :153), unordered. Partial aggregation happens map-side before the
    (tiny, n_cols-row) shuffle. The display ordering by descending count
    is the pandas facade's (:func:`compute_dataframe_diff`); a
    distributed sort here would add a range-partitioning exchange for an
    n_cols-row frame.
    """
    return (
        diff_df.select(F.explode(F.col(f"{DIFF_ARRAY_COL}.col_name")).alias("ColName"))
        .groupBy("ColName")
        .agg(F.count(F.lit(1)).alias("Count"))
    )


_ALL_FLAGS = (FLAG_NODIFF, FLAG_S1_ONLY, FLAG_S2_ONLY, FLAG_DIFF)


def diff_summary_stats(
    diff_df: DataFrame, compare_cols: Sequence[str]
) -> DataFrame:
    """BOTH summaries — flag histogram AND per-column mismatch counts —
    as ONE explode-free global aggregate: a single one-row DataFrame,
    one job, one scan of the diff.

    Each flag bucket and each column is a conditional sum; per-column
    membership is ``array_contains`` over the array's ``col_name`` field
    (each column appears at most once per row, so contains == count).
    Everything partial-aggregates map-side and the exchange carries ONE
    row per input partition — vs the lazy pair
    (:func:`flag_counts` + :func:`column_mismatch_counts`), which scans
    the diff twice when both are consumed and shuffles the exploded
    mismatch entries. Columns: ``flag_0..3`` (NODIFF, S1_ONLY, S2_ONLY,
    diff) and ``col_<i>`` in ``compare_cols`` order.
    """
    names = F.col(f"{DIFF_ARRAY_COL}.col_name")
    return diff_df.agg(
        *[
            F.coalesce(
                F.sum((F.col(FLAG_COL) == f).cast("long")), F.lit(0)
            ).alias(f"flag_{i}")
            for i, f in enumerate(_ALL_FLAGS)
        ],
        *[
            F.coalesce(
                F.sum(F.array_contains(names, c).cast("long")), F.lit(0)
            ).alias(f"col_{i}")
            for i, c in enumerate(compare_cols)
        ],
    )


def apply_diff(
    s1: DataFrame,
    diff_df: DataFrame,
    pk: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Reconstruct s2 from s1 plus a diff — the inverse of :func:`diff`,
    proving the diff output carries ALL information that separates the
    two snapshots (the round-trip ``apply_diff(s1, diff(s1, s2)) == s2``
    is pinned by the driver oracle).

    Requires a diff produced with ``carry_unmatched=True`` (the default
    reference-parity diff leaves S2_ONLY rows' values out of the array,
    so inserts would reconstruct as nulls).

    Semantics per flag: ``S2_ONLY`` rows materialize from the diff's
    s2-side values; ``S1_ONLY`` rows are deleted; ``''`` (changed) rows
    take each column's ``s2_value`` from ``CompColArr`` whenever the
    column has an entry there, a NULL ``s2_value`` included (a value
    changed to NULL replays as NULL), and keep the s1 value for columns
    that didn't differ; ``NODIFF`` rows pass through.

    The round trip is exact only for unique primary keys. Duplicate
    keys fan out: every diff row for a key joins every s1 row with that
    key, so 2 s1 rows and 1 s2 row on one key give 4 changeset rows.
    With ``null_equals_blank=True`` (the diff's default) NULL and ''
    compare equal, so the round trip is exact only modulo that.

    Values in ``CompColArr`` are stringified (diff output contract), so
    the reconstruction is string-typed — exact for all-string frames
    (the reference's CSV world); typed pipelines should re-cast against
    their schema afterwards.

    Plan shape: the diff is referenced ONCE — its surviving rows
    (every flag but ``S1_ONLY``) LEFT-join s1 on ``<pk>_s1``. Matched
    rows find their s1 row (with the diff's own fan-out on duplicate
    keys); ``S2_ONLY`` rows carry NULL ``<pk>_s1`` keys, never match,
    and come out once with every value from the patch. The per-column
    patch is a ``map_from_entries`` lookup, pure codegen. Measured on
    the ``diff_cdc_write`` changeset (orders, sf 0.1, ``local[4]``, AQE
    on): the executed plan holds the diff's full-outer sort-merge join
    once plus one left join back to s1 (broadcast at this size), three
    exchanges (the join's two shuffles and the broadcast) and three
    ``orders`` scans, and the parquet write runs 5 Spark jobs. A union
    of separate matched and ``S2_ONLY`` branches would reference the
    diff twice, and Catalyst plans (and runs) it once per reference.
    """
    overlay = F.map_from_entries(
        F.transform(
            F.col(DIFF_ARRAY_COL),
            lambda e: F.struct(e["col_name"].alias("key"), e["s2_value"].alias("value")),
        )
    )
    live = diff_df.filter(F.col(FLAG_COL) != FLAG_S1_ONLY).select(
        *[k + S1_SUFFIX for k in pk],
        *[k + S2_SUFFIX for k in pk],
        overlay.alias("__patch"),
    )
    # s1 and s2 usually share one scan, so s1 is also the diff's own
    # ancestor: renaming its columns keeps the join off the ambiguous
    # self-join path
    base = s1.select(*[F.col(c).alias("__base_" + c) for c in [*pk, *compare_cols]])
    cond = reduce(
        lambda x, y: x & y,
        [F.col(k + S1_SUFFIX) == F.col("__base_" + k) for k in pk],
    )
    return live.join(base, cond, "left").select(
        *[
            F.coalesce(
                F.col(k + S1_SUFFIX).cast("string"), F.col(k + S2_SUFFIX).cast("string")
            ).alias(k)
            for k in pk
        ],
        *[
            F.when(
                F.map_contains_key(F.col("__patch"), F.lit(c)),
                F.element_at(F.col("__patch"), F.lit(c)),
            )
            .otherwise(F.col("__base_" + c).cast("string"))
            .alias(c)
            for c in compare_cols
        ],
    )


def compute_dataframe_diff(
    s1: DataFrame,
    s2: DataFrame,
    pk_lst: Sequence[str],
    **options,
):
    """API-parity facade matching the reference's public entry point
    (``pysparkdatacoldiff/find_dataframe_diff.py:7-23``): returns
    ``(diff_df, col_stats)`` where ``col_stats`` is a *pandas* DataFrame
    ``['ColName', 'Count']`` sorted by count descending.

    The pandas conversion touches only n_cols rows — the distributed
    result stays in Spark. Stats come from the explode-free single-pass
    aggregate (:func:`diff_summary_stats`): one job, one scan, no
    exploded-entry shuffle.
    """
    d = diff(s1, s2, pk_lst, **options)
    comp_cols = resolve_compare_cols(
        s1,
        pk_lst,
        compare_cols=options.get("compare_cols"),
        exclude_cols=options.get("exclude_cols"),
    )
    row = diff_summary_stats(d, comp_cols).collect()[0]
    import pandas as pd

    stats = pd.DataFrame(
        sorted(
            (
                (c, row[f"col_{i}"])
                for i, c in enumerate(comp_cols)
                if row[f"col_{i}"] > 0
            ),
            key=lambda t: (-t[1], t[0]),
        ),
        columns=["ColName", "Count"],
    )
    return d, stats


def profile_table(
    df: DataFrame, cols: Sequence[str] | None = None
) -> DataFrame:
    """Per-column data profile in ONE pass — the audit companion to
    :func:`table_digest`: the digest answers "did anything change?",
    the profile answers "what does each column look like?" (the
    pre-migration / post-load sanity report every reconciliation
    pipeline prints).

    Emits one row per column: ``col_name``, ``n_values`` (non-null),
    ``n_nulls``, ``n_distinct`` (exact), ``min_str`` / ``max_str``
    (string-space bounds — portable across engines for the same reason
    the digest stringifies: no float-formatting or collation surprises
    for keys/strings/exact decimals; raw doubles should be projected to
    exact forms first, as the diff does).

    Shape: same map-side unpivot as the digest — values go long-form
    ``(col_name, v)`` inside the scan stage, then a MANUAL two-level
    aggregate: first a map-side-combined count at (col_name, value)
    grain (the exchange carries per-column-cardinality-bounded
    deduplicated rows — the same volume any exact profiler must move),
    then a tiny column-grain reduce where ``n_distinct`` is a plain
    count and the row counts are sums of the grain counts. This is the
    same math Spark's mixed distinct-aggregate planner produces, MINUS
    its Expand step — the built-in plan duplicates every unpivoted row
    2x and runs two exchanges to reconcile the distinct and non-distinct
    aggregates (measured ~1.7x slower at sf0.1). For columns where an
    estimate suffices at 100 TB, approx_count_distinct over the same
    unpivot halves the shuffle; exact is the default because the
    profile's job is catching off-by-small drift.
    """
    names = list(cols) if cols is not None else list(df.columns)
    stacked = df.select(
        *[F.col(c).cast("string").alias(c) for c in names]
    ).unpivot([], names, "col_name", "v")
    grain = stacked.groupBy("col_name", "v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    agg = grain.groupBy("col_name").agg(
        F.sum(
            F.when(F.col("v").isNotNull(), F.col("__c")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("n_values"),
        F.sum(
            F.when(F.col("v").isNull(), F.col("__c")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("n_nulls"),
        F.count("v").alias("n_distinct"),
        F.min("v").alias("min_str"),
        F.max("v").alias("max_str"),
    )
    # an EMPTY input produces no groups, but a profile must still name
    # every column (global-aggregate semantics: counts 0, sums/bounds
    # NULL — exactly what per-column SELECT aggregates over an empty
    # table return, which is what the paired SQL oracle does). The
    # skeleton is an n_cols-row literal; the join is metadata-sized.
    skeleton = df.sparkSession.createDataFrame(
        [(c,) for c in names], schema="col_name string"
    )
    return agg.join(skeleton, "col_name", "right").select(
        "col_name",
        F.coalesce("n_values", F.lit(0).cast("long")).alias("n_values"),
        F.col("n_nulls"),  # sum over empty is NULL, like the oracle
        F.coalesce("n_distinct", F.lit(0).cast("long")).alias("n_distinct"),
        "min_str",
        "max_str",
    )


def table_digest(
    df: DataFrame,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """Order-independent per-column content digest — the cheap pre-diff
    equality gate. Two snapshots with equal digests are (at checksum
    confidence) identical column-by-column, so the full-outer diff join
    can be skipped entirely; unequal digests name WHICH columns moved
    before any join runs. At 100 TB that turns "diff every night" into
    "digest every night, diff on digest mismatch".

    Per column: ``n_values`` (non-null count), ``n_nulls``, and
    ``digest`` = sum of a 60-bit md5 value hash, mod ``DIGEST_MODULUS`` —
    commutative, so the result is partitioning- and order-independent,
    and md5 keeps it engine-portable (replayable in any SQL engine for
    cross-system migration checks). The sum accumulates in
    DECIMAL(38,0): exact, overflow-free at any row count.

    Shape: values are unpivoted to (col_name, value) INSIDE the scan
    stage (the Expand operator is map-side) and reduced by one hash
    aggregate keyed on column name — shuffle rows = n_columns x
    n_partitions, output rows = n_columns. One scan, no joins.

    Caller contract: pass columns whose STRING form is engine-exact
    (keys, strings, exact decimals/cents). Raw doubles format
    differently across engines — project them to decimal first, as the
    diff itself does for money columns.
    """
    names = list(cols) if cols is not None else list(df.columns)
    stacked = df.select(
        *[F.col(c).cast("string").alias(c) for c in names]
    ).unpivot([], names, "col_name", "v")
    h = md5_int60(F.col("v"))
    return (
        stacked.groupBy("col_name")
        .agg(
            F.count("v").alias("n_values"),
            F.sum(F.isnull("v").cast("long")).alias("n_nulls"),
            F.pmod(
                F.coalesce(
                    F.sum(h.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
                ),
                F.lit(DIGEST_MODULUS).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("digest"),
        )
    )


def digests_equal(s1: DataFrame, s2: DataFrame, cols: Sequence[str]) -> bool:
    """True when both snapshots' per-column digests match — the gate a
    scheduled pipeline checks before paying for the full diff. Runs one
    scan per side; output comparison is n_cols rows on the driver."""
    a = {r["col_name"]: (r["n_values"], r["n_nulls"], r["digest"])
         for r in table_digest(s1, cols).collect()}
    b = {r["col_name"]: (r["n_values"], r["n_nulls"], r["digest"])
         for r in table_digest(s2, cols).collect()}
    return a == b


_NULL_SENTINEL = "\x00"
_SEP = "\x01"


def _row_str(cols: Sequence[str]) -> Column:
    """Canonical row string: each column cast to string, NULL mapped to
    an out-of-band sentinel (concat_ws would silently SKIP nulls,
    collapsing ('a', NULL) and ('a', '') to the same string), joined on
    a separator no data value contains."""
    return F.concat_ws(
        _SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL))
            for c in cols
        ],
    )


def digest_tree(
    df: DataFrame,
    pk_cols: Sequence[str],
    value_cols: Sequence[str] | None = None,
    *,
    fanout: int = 16,
    levels: int = 2,
) -> DataFrame:
    """Merkle-style digest tree — :func:`table_digest`'s structured
    sibling: instead of one digest per column, a ``levels``-deep tree of
    key-range digests that LOCALIZES a mismatch to a small key bucket
    before any row-level diff runs. Two snapshots' trees compare
    top-down: equal roots => identical tables (at checksum confidence,
    as with table_digest); on mismatch, descend only into unequal nodes
    and full-diff only the leaf buckets that differ. At 100 TB that
    turns "re-diff the whole table because something changed" into
    "diff the 1/fanout^levels key slice that actually moved" — the
    anti-entropy pattern of Merkle-tree replica repair (Dynamo-style),
    expressed as two scans and a grain-sized join.

    Construction: each row buckets to a leaf by md5 of its PRIMARY KEY
    (value edits must flag the bucket holding that key, not migrate the
    row to a different leaf), and contributes a 60-bit md5 hash of its
    full canonical row string to the leaf's commutative digest (sum mod
    ``DIGEST_MODULUS`` in DECIMAL(38,0) — order/partitioning independent,
    engine-portable). Parents aggregate child digests with the same
    modular sum (``(a mod m + b mod m) mod m = (a+b) mod m``), so any
    row change propagates to the root.

    Returns ``(level, node, n_rows, digest)``: level 0 is the root
    (node 0), level ``levels`` the leaves (node in
    ``[0, fanout**levels)``); the parent of node ``x`` is
    ``x // fanout``. Empty buckets emit no row (a missing node reads as
    ``n_rows=0, digest=0`` — :func:`digest_tree_diff` applies exactly
    that convention).

    Scale shape: ONE scan; the leaf aggregation is map-side combined,
    so the only data-sized exchange carries at most
    ``fanout**levels x n_partitions`` rows; every parent level
    aggregates the (tiny, cached) leaf relation; the result —
    ``sum(fanout^l) for l <= levels`` rows — is materialized eagerly
    (localCheckpoint) so the leaf cache can be released before
    returning (no corpus-sized block outlives the call).

    Caller contract matches table_digest: pass columns whose STRING
    form is engine-exact (keys, strings, dates, exact decimals/cents) —
    project raw doubles to decimal first.
    """
    if fanout < 2:
        raise InvalidArgumentError(f"fanout must be >= 2, got {fanout}")
    if levels < 1:
        raise InvalidArgumentError(f"levels must be >= 1, got {levels}")
    if fanout**levels > 1 << 20:
        raise InvalidArgumentError(
            f"fanout**levels = {fanout**levels} leaves; keep the tree "
            "grain-sized (<= 2^20) — it must stay cheap to compare"
        )
    if not pk_cols:
        raise PrimaryKeyError("pk_cols must name at least one column")
    vals = list(value_cols) if value_cols is not None else [
        c for c in df.columns if c not in set(pk_cols)
    ]
    n_leaves = fanout**levels
    mod_dec = F.lit(DIGEST_MODULUS).cast("decimal(38,0)")
    leaves = (
        df.select(
            F.pmod(md5_int60(_row_str(pk_cols)), F.lit(n_leaves)).alias(
                "node"
            ),
            md5_int60(_row_str(list(pk_cols) + vals)).alias("__h"),
        )
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(F.sum(F.col("__h").cast("decimal(38,0)")), mod_dec)
            .cast("long")
            .alias("digest"),
        )
        .persist()
    )
    try:
        out = leaves.select(
            F.lit(levels).alias("level"), "node", "n_rows", "digest"
        )
        cur = leaves
        for lv in range(levels - 1, -1, -1):
            cur = (
                cur.groupBy(
                    F.floor(F.col("node") / fanout).cast("long").alias("node")
                )
                .agg(
                    F.sum("n_rows").alias("n_rows"),
                    F.pmod(F.sum(F.col("digest").cast("decimal(38,0)")), mod_dec)
                    .cast("long")
                    .alias("digest"),
                )
            )
            out = out.unionByName(
                cur.select(F.lit(lv).alias("level"), "node", "n_rows", "digest")
            )
        return out.localCheckpoint(eager=True)
    finally:
        leaves.unpersist()


def digest_tree_diff(
    s1: DataFrame,
    s2: DataFrame,
    pk_cols: Sequence[str],
    value_cols: Sequence[str] | None = None,
    *,
    fanout: int = 16,
    levels: int = 2,
) -> DataFrame:
    """Compare two snapshots' digest trees: one row per tree node
    present on either side, with both sides' counts/digests and a
    ``differs`` flag. The localization read: the root row answers "did
    anything change"; the ``differs`` leaves name the key buckets to
    re-diff (``pmod(md5(pk), fanout**levels)`` membership), everything
    else is verified-identical without a row-level join. Each side is
    one scan; the comparison join touches only tree-grain rows.
    """
    t1 = digest_tree(s1, pk_cols, value_cols, fanout=fanout, levels=levels)
    t2 = digest_tree(s2, pk_cols, value_cols, fanout=fanout, levels=levels)
    a = t1.select(
        "level", "node",
        F.col("n_rows").alias("n1"), F.col("digest").alias("d1"),
    )
    b = t2.select(
        "level", "node",
        F.col("n_rows").alias("n2"), F.col("digest").alias("d2"),
    )
    j = a.join(b, ["level", "node"], "full_outer").select(
        "level",
        "node",
        F.coalesce("n1", F.lit(0)).alias("n1"),
        F.coalesce("n2", F.lit(0)).alias("n2"),
        F.coalesce("d1", F.lit(0)).alias("d1"),
        F.coalesce("d2", F.lit(0)).alias("d2"),
    )
    return j.withColumn(
        "differs", (F.col("n1") != F.col("n2")) | (F.col("d1") != F.col("d2"))
    )


# same cap as the heavy-hitter count pass (operators/sketch.py):
# past this many terms an isin literal stops constant-folding
# cheaply; fall back to a broadcast semi join on the bucket id
_SCOPED_ISIN_CAP = 4096


def scoped_diff(
    s1: DataFrame,
    s2: DataFrame,
    pk_cols: Sequence[str],
    *,
    value_cols: Sequence[str] | None = None,
    fanout: int = 16,
    levels: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """Anti-entropy scoped repair — the composition :func:`digest_tree`
    exists for: localize the mismatch to the leaf key-buckets whose
    digests differ, then run the row-level :func:`diff` over ONLY those
    buckets. At 100 TB this turns "full-outer-join two snapshots
    because something changed" into two digest scans plus a diff over
    the 1/fanout^levels key slice that actually moved — the
    Merkle-repair read path (Dynamo-style), end to end.

    Equivalence contract: every row-level difference lives in a bucket
    whose (count, digest) pair differs — key presence changes move the
    count, value changes move the 60-bit-hash modular sum — so the
    scoped diff equals the full diff at checksum confidence (a clean
    bucket hiding a change requires a mod-2^60-scale hash-sum
    collision, the same confidence statement as :func:`table_digest`).
    ``value_cols`` must cover every column a difference may hide in
    (default: all non-key columns) and follow digest_tree's
    string-exactness contract (project raw doubles to decimal first).

    The dirty-bucket id list is a bounded driver collect (<
    ``fanout**levels`` ints, the digest-tree grain bound) shipped back
    as a constant-folded ``isin`` literal — both snapshots are pruned
    map-side BEFORE the diff's full-outer exchange. Pass ``stats={}``
    to receive ``dirty_buckets`` / ``total_buckets``.

    A caller-supplied ``value_cols`` SCOPES the comparison: both
    snapshots are projected to ``pk_cols + value_cols`` before the
    row diff, so the row-level comparison covers exactly the columns
    the digests cover — a narrower ``value_cols`` can no longer
    silently miss differences in uncovered columns that land in clean
    buckets (round-5 advice).

    Returns the standard diff frame over the dirty buckets: every
    DIFFERENCE row of the full diff (value mismatches, S1_ONLY/S2_ONLY)
    is present; NODIFF rows appear only for rows that happen to share a
    dirty bucket — clean buckets are verified identical at checksum
    confidence WITHOUT materializing their rows, which is the point of
    the scoping (a repair consumer reads differences, not
    confirmations). Identical snapshots yield the empty diff without
    running the row join at all; when HALF OR MORE of the buckets are
    dirty the scoping is bypassed (the prune would buy little and the
    isin literal would grow toward the tree grain) and the plain full
    diff runs — same difference rows, NODIFF confirmations for
    everything.
    """
    reserved = {"__bucket"} & (set(s1.columns) | set(s2.columns))
    if reserved:
        # checked up front (not only when the broadcast-prune fallback
        # routes on a generated '__bucket' column) so the raise is not
        # data-dependent — round-5 advice
        raise ValueError(
            f"input already has reserved column(s) {sorted(reserved)}; "
            "rename before scoped_diff"
        )
    if value_cols is not None:
        # project BOTH the digests and the row diff to the same column
        # scope — the checksum-equivalence contract holds per covered
        # column, and uncovered columns are excluded from the row diff
        # rather than silently half-compared (round-5 advice)
        proj = [*pk_cols, *value_cols]
        s1, s2 = s1.select(*proj), s2.select(*proj)
    dt = digest_tree_diff(
        s1, s2, pk_cols, value_cols, fanout=fanout, levels=levels
    )
    dirty = [
        r["node"]
        for r in dt.filter(
            (F.col("level") == levels) & F.col("differs")
        )
        .select("node")
        .collect()
    ]
    if stats is not None:
        stats["dirty_buckets"] = len(dirty)
        stats["total_buckets"] = fanout**levels
    n_leaves = fanout**levels
    if 2 * len(dirty) >= n_leaves:
        # majority-dirty: the prune buys (at best) a 2x scan saving but
        # costs an isin literal up to the tree grain (2^20 terms blows
        # the plan) — bypass the scoping and run the plain full diff,
        # which is semantically a superset (extra NODIFF confirmations
        # from the minority-clean buckets, same difference rows)
        return diff(s1, s2, list(pk_cols))
    bucket = F.pmod(md5_int60(_row_str(pk_cols)), F.lit(n_leaves))
    if len(dirty) <= _SCOPED_ISIN_CAP:
        # constant-folded literal, pruned map-side before any exchange
        keep = bucket.isin(dirty) if dirty else F.lit(False)
        f1, f2 = s1.filter(keep), s2.filter(keep)
    else:
        # minority-dirty but past the point where an isin literal
        # compiles cheaply (plan size is linear in terms; the tree
        # grain allows up to 2^20 leaves) — same cap and fallback as
        # the heavy-hitter count pass: broadcast semi join on the
        # bucket id, still pruning before the diff's full-outer
        # exchange
        spark = s1.sparkSession
        dirty_df = spark.createDataFrame(
            [(b,) for b in sorted(dirty)], "__bucket long"
        )

        def prune(s: DataFrame) -> DataFrame:
            return (
                s.withColumn("__bucket", bucket)
                .join(F.broadcast(dirty_df), "__bucket", "semi")
                .drop("__bucket")
            )

        f1, f2 = prune(s1), prune(s2)
    return diff(f1, f2, list(pk_cols))


def change_intervals(
    df: DataFrame,
    key: Sequence[str],
    ts_col: str,
    state_cols: Sequence[str],
    *,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Collapse a per-key stream of observations into SCD2-style
    validity intervals: consecutive observations with an identical
    ``state_cols`` tuple merge into one row with ``valid_from`` /
    ``valid_to`` (null = still current) and ``n_obs``. The temporal
    complement of :func:`diff`: diff compares two snapshots, this
    reconstructs the full change history from a snapshot STREAM — the
    gaps-and-islands build every slowly-changing-dimension pipeline
    runs.

    ``tiebreak`` extends the per-key ordering to a total order when
    ``ts_col`` can repeat (pass a unique id); without a total order,
    interval boundaries at tied timestamps are partition-order-
    dependent.

    Scale shape: ONE key-partitioned exchange; both windows (the lag
    change-flag and the running island id) and the final island
    aggregate all share the same ``HashPartitioning(key)``, so Spark
    plans exactly one shuffle and two sorts over it — no join, no
    second scan. State comparison is null-safe (``<=>``): a null state
    equals itself, so null-runs merge rather than fragment.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak]
    w = Window.partitionBy(*key).orderBy(*order)
    state = F.struct(*[F.col(c) for c in state_cols])
    changed = (
        ~state.eqNullSafe(F.lag(state).over(w))
    ).cast("long")
    islands = df.select(
        *key, ts_col, *state_cols, *tiebreak,
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__island"),
    )
    # valid_to chains islands by valid_from; __island breaks the tie
    # when two consecutive islands share a timestamp (every row of both
    # at the same ts) — island ids are monotone in stream order, so the
    # chain stays deterministic where valid_from alone is ambiguous
    nxt = Window.partitionBy(*key).orderBy("valid_from", "__island")
    return (
        islands.groupBy(*key, "__island", *state_cols)
        .agg(
            F.min(ts_col).alias("valid_from"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            *key, *state_cols, "valid_from",
            F.lead("valid_from").over(nxt).alias("valid_to"),
            "n_obs",
        )
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    pk: Sequence[str],
    *,
    delete_col: str | None = None,
    broadcast_updates: bool = False,
) -> DataFrame:
    """Snapshot merge — the MERGE INTO of lakehouse tables as a pure
    DataFrame composition, completing the CDC family (:func:`diff`
    extracts a changeset, :func:`apply_diff` replays one, this ingests
    one): every ``updates`` row wins over the ``base`` row with the
    same key (update-or-insert); rows where ``delete_col`` is true are
    dropped from the result and delete their base counterpart.

    Plan: ONE left-anti join (base rows whose key is absent from
    updates) unioned with the surviving update rows — no full-outer, no
    per-column conditionals, because "updates win wholesale" makes the
    value-level merge unnecessary. ``broadcast_updates=True`` is the
    big-base/small-batch CDC shape: the anti join broadcasts the update
    keys and the base NEVER shuffles — at 100 TB this is the difference
    between a metadata-sized job and re-shuffling the table. Leave it
    False when the batch is comparable to the base (both sides shuffle
    on pk once).

    Duplicate keys WITHIN ``updates`` are the caller's contract to
    avoid (last-writer-wins needs an ordering column — take
    ``change_intervals``-style max-struct per key first). The updates
    lineage is consumed TWICE (key set + surviving rows); callers whose
    update batch is expensive to recompute should ``persist()`` it
    before merging, per the repo's branch-point convention.
    """
    if not pk:
        raise InvalidArgumentError("pk must not be empty")
    missing = [k for k in pk if k not in updates.columns]
    if missing:
        raise PrimaryKeyError(f"pk columns missing from updates: {missing}")
    keys = updates.select(*pk)
    if delete_col is not None:
        incoming = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        incoming = updates
    if broadcast_updates:
        keys = F.broadcast(keys)
    survivors = base.join(keys, list(pk), "left_anti")
    return survivors.unionByName(incoming)


def distribution_drift(
    s1: DataFrame,
    s2: DataFrame,
    bin_expr: Column,
    *,
    threshold_pct: int = 5,
) -> DataFrame:
    """Distribution-level drift between two snapshots — the statistical
    complement of the row-level :func:`diff` and the
    :func:`table_digest` equality gate: when digests differ, this says
    HOW the data moved, without any key or row alignment.

    ``bin_expr`` maps a row to an integer/str bucket (e.g. price bands,
    a category column, ``floor(cents / 100000)``). Each side reduces to
    a per-bin count (one map-side-combined aggregate each — the only
    data-sized work), and the bin frames full-outer join on the bin key
    (grain-sized, absent bins count 0). Per bin the result carries both
    counts, both totals, and ``drifted`` — whether the bin's relative
    frequency moved by more than ``threshold_pct`` percentage points,
    evaluated in exact integer cross-multiplication
    (``100 * |n1*N2 - n2*N1| > threshold_pct * N1*N2``), so no float
    ever exists and two engines agree bit-for-bit. An EMPTY side is
    treated as the all-zero distribution: every bin whose other-side
    frequency exceeds the threshold flags (the naive cross-product
    form would compare ``0 > 0`` and silently report an entirely new
    distribution as drift-free).

    At 100 TB both inputs are scanned once and shuffled only as
    bin-grain partials; the join and comparison touch |bins| rows.
    Callers wanting PSI/KL weights can derive them from the exact
    counts — the engine keeps the decision integral.
    """
    if not (0 <= threshold_pct < 100):
        # outside this range the flag is nonsense rather than an error:
        # negative flags identical distributions, >= 100 can never flag
        raise ValueError(
            f"threshold_pct must be in [0, 100), got {threshold_pct}"
        )

    def side(df: DataFrame, n_col: str) -> DataFrame:
        return df.select(bin_expr.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).alias(n_col)
        )

    a, b = side(s1, "n1"), side(s2, "n2")
    # null-safe join key: a NULL bin is one bucket, not a never-matching
    # key that would split into two spurious all-drifted rows
    joined = a.join(
        b, a["bin"].eqNullSafe(b["bin"]), "full_outer"
    ).select(
        F.coalesce(a["bin"], b["bin"]).alias("bin"),
        F.coalesce(a["n1"], F.lit(0)).alias("n1"),
        F.coalesce(b["n2"], F.lit(0)).alias("n2"),
    )
    tot = joined.agg(
        F.sum("n1").alias("__t1"), F.sum("n2").alias("__t2")
    )
    # cross-multiply in decimal(38,0): long products overflow around
    # 3e9-row snapshots (threshold * t1 * t2); decimal38 keeps the
    # triple product exact past 1e17 rows a side — and DuckDB's HUGEINT
    # replay agrees digit-for-digit
    dec = "decimal(38,0)"
    n1, n2 = F.col("n1").cast(dec), F.col("n2").cast(dec)
    t1, t2 = F.col("__t1").cast(dec), F.col("__t2").cast(dec)
    thr = F.lit(threshold_pct).cast(dec)
    drifted = (
        F.when(
            (t1 == 0) & (t2 == 0), F.lit(False)
        )
        .when(t1 == 0, 100 * n2 > thr * t2)
        .when(t2 == 0, 100 * n1 > thr * t1)
        .otherwise(100 * F.abs(n1 * t2 - n2 * t1) > thr * t1 * t2)
    )
    return joined.crossJoin(F.broadcast(tot)).select(
        "bin", "n1", "n2", drifted.alias("drifted")
    )
