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

from pyspark.sql import Column
from pyspark.sql import functions as F

# Ratios, shares and probabilities: ``x_ppm = numerator * PPM DIV den``.
PPM = 1_000_000

# Embedding quantum: a vector element enters exact-integer math as
# ``floor(double(x) * EMBED_QUANT)``.
EMBED_QUANT = 1_000_000

# Commutative content digests are a DECIMAL(38,0) sum of 60-bit md5
# hashes, reduced mod DIGEST_MODULUS.
DIGEST_MODULUS = 10**18


def md5_int32(s: Column) -> Column:
    """32-bit integer from the first 8 hex digits of ``md5(s)`` (DuckDB:
    ``('0x' || substr(md5(s), 1, 8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def md5_int60(s: Column) -> Column:
    """60-bit integer from the first 15 hex digits of ``md5(s)`` (DuckDB:
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
