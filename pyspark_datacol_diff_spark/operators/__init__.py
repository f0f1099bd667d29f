"""Operators: diff (core), dedup, similarity, text, multimodal.

Branch-point checkpoint contract (ADVICE r11, centralized note): many
operators pin a relation that feeds multiple plan references with a lazy
``localCheckpoint`` — Catalyst reuses no shared subtree across
references, so without it the upstream pipeline re-executes per
reference. Two consequences every caller of such an operator inherits:

- RETAINED BLOCKS: the checkpointed blocks stay live after the caller's
  action (there is no DataFrame-level handle to release them). Long-
  lived sessions must release them at quiescent points via
  ``session.free_persistent_rdds`` / ``quiesce_session`` (the bench,
  parity, and smoke harnesses all do).
- EXECUTOR LOSS: a local checkpoint truncates lineage; losing an
  executor that held its blocks makes the in-flight job unrecoverable
  (Spark re-raises rather than recomputing). That is the documented
  trade for bounded plan growth — on a cluster where executor churn is
  expected, prefer ``spark.sparkContext.setCheckpointDir`` + reliable
  ``checkpoint`` at the same branch points.
- CONSTRUCT-ACT COUPLING: do not ``quiesce_session`` between
  CONSTRUCTING a returned frame and ACTING on it — releasing the blocks
  out from under an unexecuted plan fails the read (see
  ``free_persistent_rdds``' danger note).

Exact-integer encoding contract: every operator emits exact integers at
the fixed scales below and hashes through md5, so an external SQL
engine (the DuckDB oracles) replays each result bit for bit. The scales
are part of every result's meaning, not tuning knobs — a ``*_ppm``
column is always parts per million — so they are defined once here and
no operator takes them as a parameter.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ratios, shares and probabilities: ``x_ppm = numerator * PPM DIV den``.
PPM = 1_000_000

# Embedding quantum: a vector element enters exact-integer math as
# ``floor(double(x) * EMBED_QUANT)``.
EMBED_QUANT = 1_000_000

# Commutative content digests are a DECIMAL(38,0) sum of 60-bit md5
# hashes, reduced mod DIGEST_MODULUS.
DIGEST_MODULUS = 10**18


def checked_long(col: Column, *, context: str = "value") -> Column:
    """DECIMAL->BIGINT cast that RAISES AT EXECUTION on overflow instead
    of non-ANSI mode's silent NULL. Guards casts of values that grow
    with the data (hits_bipartite scores grow like degree^iterations):
    an overflow surfaces as a loud job failure naming the context, never
    as a NULL that quietly drops rows from a parity compare."""
    return F.when(
        (col >= F.lit(-(2**63)).cast("decimal(38,0)"))
        & (col <= F.lit(2**63 - 1).cast("decimal(38,0)")),
        col.cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"checked_long: {context} overflows BIGINT ("),
                col.cast("string"),
                F.lit(") — keep DECIMAL(38,0) end-to-end or reduce "
                      "iterations/scale"),
            )
        )
    )


def md5_int32(s: Column) -> Column:
    """32-bit integer from the first 8 hex digits of ``md5(s)`` (DuckDB:
    ``('0x' || substr(md5(s), 1, 8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def md5_int60(s: Column) -> Column:
    """60-bit integer from the first 15 hex digits of ``md5(s)`` (DuckDB:
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def suffix_pairs(df: DataFrame, arr: str, *carry: str) -> DataFrame:
    """Every ``i < j`` pair of the sorted array column ``arr``: one row
    ``(*carry, a, b)`` per pair, ``a = arr[i]`` and ``b = arr[j]``, so a
    list of distinct ascending elements yields ``a < b``. The pair step
    of the posting-list, neighbour-list and basket miners.

    posexplode each list, then explode the suffix after position i:
    generator output streams through codegen, and per-row allocation is
    one slice instead of a flattened d(d-1)/2 pair array. ``carry``
    columns ride along unchanged."""
    i = F.col("__i")
    return df.select(*carry, arr, F.posexplode(arr).alias("__i", "a")).select(
        *carry,
        "a",
        F.explode(
            F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0)))
        ).alias("b"),
    )
