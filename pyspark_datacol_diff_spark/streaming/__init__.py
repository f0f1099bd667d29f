"""Structured Streaming operators (north-star extension surface).

The reference library has no streaming at all (SURVEY.md §2.7); this
module adds the streaming shapes a training-data pipeline needs:

- file-source streams over the same parquet tables the batch engine reads
  (``read_parquet_stream``) — at scale this is the S3/HDFS landing-zone
  pattern: new files appear, ``maxFilesPerTrigger`` paces ingestion;
- event-time tumbling-window aggregation with a watermark for late data
  (``windowed_event_counts``);
- custom stateful processing via ``applyInPandasWithState``
  (``sessionize`` — gap-based user sessions, the canonical example the
  built-in window operators cannot express);
- a deterministic run-to-completion harness (``run_available_now``) so
  tests and the driver can execute a stream synchronously and compare
  its output to the batch equivalent — streaming==batch equivalence IS
  the correctness contract for this module.

Scale notes (100 TB/day): the windowed aggregate is a streaming hash
aggregate keyed by (window, group); state size = active windows x groups,
bounded by the watermark which expires old windows. Sessionization state
is per-user and bounded by the gap timeout. Both shuffle once per
micro-batch on the group key — identical shuffle shape to the batch agg.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import PPM


def stage_files(*paths: str, dir_suffix: str = "stream_src") -> str:
    """Stage parquet inputs into a fresh temp directory and return it —
    Spark's file streaming source requires a directory (it monitors
    for new files). Each path may be a single parquet FILE (how batch
    testdata ships) or a Spark-written parquet DIRECTORY (how the
    scale harness synthesizes), whose ``part-*`` data files are staged
    individually. Everything is prefixed with its position so the SAME
    path may be staged more than once (deliberate duplicate injection
    for dedup tests).

    ARRIVAL ORDER IS PINNED BY MTIME (r08 fix): Spark's file source
    orders by modification time, NOT name — freshly copied fixtures
    all land within the same clock tick, so equal-mtime ties made the
    micro-batch order nondeterministic run to run. The commutative
    folds (rollup/histogram/MG/dedup-as-a-set) could never see it; the
    order-sensitive transition stitcher failed its oracle on exactly
    this. Each staged file now gets a strictly increasing mtime in
    position order, so position order IS arrival order under
    ``maxFilesPerTrigger``. Production streams read a real
    landing-zone directory (whose arrival times are real) and never
    need this."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    d = tempfile.mkdtemp(prefix=f"dcd_{dir_suffix}_")
    staged: list[str] = []
    for i, p in enumerate(paths):
        if os.path.isdir(p):
            parts = sorted(glob.glob(os.path.join(p, "part-*")))
            if not parts:
                raise FileNotFoundError(
                    f"stage_files: directory {p!r} contains no part-* "
                    "data files — staging nothing would make the "
                    "downstream streaming replay pass vacuously on an "
                    "empty source"
                )
            for j, part in enumerate(parts):
                dst = os.path.join(
                    d, f"{i:03d}_{j:05d}_{os.path.basename(part)}"
                )
                shutil.copy(part, dst)
                staged.append(dst)
        else:
            dst = os.path.join(d, f"{i:03d}_{os.path.basename(p)}")
            shutil.copy(p, dst)
            staged.append(dst)
    base = time.time() - 2 * len(staged)
    for k, dst in enumerate(staged):
        os.utime(dst, (base + 2 * k, base + 2 * k))
    return d


def stage_disjoint_splits(
    df: DataFrame, key_col: str, n: int, *, dir_suffix: str = "splits"
) -> str:
    """Write ``df`` as ``n`` disjoint single-file parquet splits
    (``key_col % n``) and stage them as a streaming source directory —
    under ``maxFilesPerTrigger=1`` each split then arrives as its own
    micro-batch, which is how tests and the driver force REAL
    cross-micro-batch behavior out of a finite replay. The splits are
    a true partition of ``df``: bucketing uses ``pmod`` (negative keys
    land in 0..n-1, unlike ``%`` which keeps sign) and NULL keys route
    to split 0 instead of vanishing. Fixture-side only; production
    streams read a landing zone that arrives split."""
    import glob
    import tempfile

    root = tempfile.mkdtemp(prefix=f"dcd_{dir_suffix}_")
    bucket = F.coalesce(F.pmod(F.col(key_col), F.lit(n)), F.lit(0))
    paths: list[str] = []
    for i in range(n):
        d = f"{root}/part{i}"
        df.filter(bucket == i).coalesce(1).write.parquet(d)
        paths.extend(sorted(glob.glob(f"{d}/part-*.parquet")))
    return stage_files(*paths, dir_suffix=dir_suffix)


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet path. Schema must be supplied
    (streaming sources don't infer). ``maxFilesPerTrigger`` paces
    micro-batches when replaying a large landing zone."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    group_col: str = "event_type",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed counts + exact-decimal value sum — tumbling
    by default, sliding/hopping when ``slide`` < ``window`` (each event
    then lands in window/slide overlapping windows; Spark expands the
    row per owning window BELOW the partial aggregate, so the
    micro-batch shuffle carries combined (window, group) rows, not the
    expansion).

    Works on BOTH a streaming and a batch DataFrame (same logical plan —
    that equivalence is what the oracle checks). The watermark bounds
    state: windows older than (max event time - watermark) are finalized
    and their state dropped; sliding windows hold window/slide times
    more state rows, expired on the same schedule.

    Returns ``(hour, <group_col>, n_events, value_e4, n_users_approx)``
    — value_e4 is the exact DECIMAL sum scaled to int (see
    __spark_entry__ determinism notes); the user count is approximate
    because exact countDistinct is unsupported in streaming aggregates.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(ts_col, window, slide or window).alias("w"),
            F.col(group_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
            .cast("long")
            .alias("value_e4"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.col("w.start").alias("hour"),
            group_col,
            "n_events",
            "value_e4",
            "n_users_approx",
        )
    )


# ---------------------------------------------------------------------------
# custom stateful operator: gap-based sessionization
# ---------------------------------------------------------------------------

SESSION_OUTPUT_TYPE = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

_SESSION_STATE_TYPE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-based sessions per user via ``applyInPandasWithState`` — the
    custom stateful operator built-in windows can't express (session
    boundaries depend on the data, not the clock).

    Per micro-batch and user: sort new events by time, extend or split
    sessions on the gap, keep the open session in ``GroupState``, emit
    every session touched this batch (``closed`` marks finished ones).
    Update output mode; state is one small tuple per active user.
    """
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        times: list[int] = []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col])
            times.extend(int(v.value // 1000) for v in ts)  # ns -> us
        times.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = -1
            n = 0
        out: list[tuple[int, int, int, int, bool]] = []
        for t in times:
            if start_us < 0:
                start_us, last_us, n = t, t, 1
            elif t - last_us <= gap_us:
                last_us, n = t, n + 1
            else:
                out.append((user, start_us, last_us, n, True))
                start_us, last_us, n = t, t, 1
        if start_us >= 0:
            state.update((start_us, last_us, n))
            out.append((user, start_us, last_us, n, False))
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_start": pd.to_datetime([r[1] for r in out], unit="us"),
                "session_end": pd.to_datetime([r[2] for r in out], unit="us"),
                "n_events": [r[3] for r in out],
                "closed": [r[4] for r in out],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_TYPE,
        stateStructType=_SESSION_STATE_TYPE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# deterministic run-to-completion harness
# ---------------------------------------------------------------------------

def dedup_stream(
    sdf: DataFrame,
    id_cols: list[str],
    *,
    event_time_col: str = "ts",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps each key's state only until
    the watermark passes its event time, so state size is (keys seen per
    watermark window), not (keys seen ever) — plain ``dropDuplicates``
    on a stream grows state forever, which a 100 TB/day ingest cannot
    run. Duplicates arriving later than ``watermark_delay`` are NOT
    caught (the batch-layer exact dedup is the backstop; this is the
    standard lambda split for ingest dedup)."""
    return sdf.withWatermark(event_time_col, watermark_delay).dropDuplicatesWithinWatermark(
        id_cols
    )


def write_stream_parquet(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    *,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    query_name: str = "dcd_parquet_sink",
):
    """Parquet file sink for a stream — the landing-zone writer. The
    file sink is exactly-once BY CONSTRUCTION: each micro-batch's files
    are recorded in the sink's transaction log (``path/_spark_metadata``)
    keyed by batch id, so a restarted query never double-counts a batch
    (readers that honor the log see only committed files). Checkpoint
    and output must move together — a fresh checkpoint against an
    existing output directory re-writes from scratch.

    Returns the started ``StreamingQuery`` (caller awaits/stops);
    ``available_now=True`` drains what exists and stops — the batch
    backfill mode of the same pipeline.
    """
    w = (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .outputMode("append")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    *,
    lookback: str = "24 hours",
    watermark: str = "48 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi+interval join: pair each left row with right
    rows sharing ``key_cols`` whose ``right_ts`` falls in
    ``[left_ts - lookback, left_ts]`` — the click-to-impression
    attribution shape.

    On streaming inputs both sides get a watermark, and the interval
    condition is what BOUNDS THE STATE: Spark keeps a right row only
    until the watermark passes ``right_ts + lookback`` (and vice versa),
    so state is (rate x lookback) rows, not the whole history — an
    unconstrained stream-stream join would buffer both streams forever.
    Inner results emit as matches arrive (append mode); outer interval
    joins additionally wait for the watermark before emitting nulls.

    Works identically on batch DataFrames (same logical plan, minus
    watermarks) — the batch run IS the oracle for the streaming run.
    ``right_ts`` must be a distinct column name from ``left_ts``
    (pre-alias the sides; they usually come from the same source).
    """
    l, r = left, right
    if l.isStreaming:
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(right_ts, watermark)
    for k in key_cols:
        r = r.withColumnRenamed(k, f"__r_{k}")
    cond = None
    for k in key_cols:
        c = l[k] == r[f"__r_{k}"]
        cond = c if cond is None else cond & c
    lo = F.col(left_ts) - F.expr(f"INTERVAL {lookback}")
    cond = cond & (F.col(right_ts) >= lo) & (F.col(right_ts) <= F.col(left_ts))
    return l.join(r, cond, how).drop(*[f"__r_{k}" for k in key_cols])


def run_available_now(
    result: DataFrame,
    *,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 4,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (``availableNow``
    trigger — process everything currently available, then stop) into an
    in-memory sink, and return the materialized result as a batch
    DataFrame.

    ``complete`` mode emits the full aggregate regardless of watermark
    progress — required for exact batch equivalence in a finite replay
    (append mode holds back windows the watermark hasn't passed; in a
    finite stream the last windows would never emit).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query's lifetime (restored after): streaming state is one store per
    shuffle partition per stateful operator, and store open/commit is
    per-micro-batch FIXED cost — a replay of a small finite stream under
    the batch engine's 32 shuffle partitions pays 32x store overhead for
    no parallelism win. Pass ``None`` to keep the session setting (a
    real always-on stream sizes this to its state volume, not its data
    volume). The checkpoint goes to a fresh temp dir on /dev/shm when
    available — this harness is a run-to-completion replay, so the
    checkpoint is disposable; an always-on production stream MUST put it
    on durable shared storage instead (S3/HDFS), or recovery is lost.
    """
    writer = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )
    _run_to_completion(result.sparkSession, writer, query_name, state_partitions)
    return result.sparkSession.table(query_name)


# final StreamingQueryProgress per query name, written by
# _run_to_completion — ``stateOperators[*].numRowsTotal`` is the
# state-store row count at end-of-replay, the number the 10x scale
# smoke asserts grows linearly with keys (watermark-bounded state),
# not with total input
LAST_PROGRESS: dict[str, dict] = {}


def _run_to_completion(spark, writer, query_name: str, state_partitions):
    """Shared finite-replay harness: availableNow trigger, disposable
    /dev/shm checkpoint, shuffle-partition pin restored afterwards
    (see :func:`run_available_now` for why each matters)."""
    import os
    import tempfile

    writer = writer.trigger(availableNow=True)
    if os.path.isdir("/dev/shm"):
        writer = writer.option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix=f"dcd_ckpt_{query_name}_", dir="/dev/shm"),
        )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
        q.awaitTermination()
        try:
            if q.lastProgress is not None:
                LAST_PROGRESS[query_name] = q.lastProgress
        except Exception:
            pass  # progress is observability, never a failure path
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def continuous_rollup(
    sdf: DataFrame,
    keys: list,
    aggs: dict,
    *,
    query_name: str,
    state_root: str | None = None,
    state_partitions: int | None = 4,
) -> DataFrame:
    """Continuously-maintained rollup: ``foreachBatch`` folds each
    micro-batch's grain-sized partial aggregate
    (:func:`~pyspark_datacol_diff_spark.operators.incremental.agg_state`)
    into a versioned parquet state table via
    :func:`~...incremental.merge_agg_states` — the streaming face of
    incremental aggregate maintenance. Per micro-batch the work is one
    batch-sized aggregate (map-side combined) plus a merge that reads
    and writes ``|groups|`` rows; the event history is never rescanned,
    which is the whole point at 100 TB/day.

    State versions are directories ``v<batch_id>`` under ``state_root``
    (a fresh temp dir unless supplied), so a batch never reads the path
    it is writing — the lazy-read-overwrite self-clobber trap. The
    merge honors foreachBatch's at-least-once contract: the previous
    state is ALWAYS the newest on-disk version with id < batch_id
    (never this batch's own output), so a re-executed batch_id merges
    from the same predecessor instead of double-counting itself, and
    the version write is overwrite-mode so the retry replaces its own
    partial output. Passing a durable ``state_root`` alongside a
    durable checkpoint makes restart resume correct too: committed
    batches are skipped by the checkpoint and their versions are found
    on disk. A ``state_root`` belongs to exactly ONE rollup query —
    versions are overwrite-mode for retry safety, so two queries
    sharing a root would clobber each other. Production would MERGE
    into a table format with atomic commits (Delta/Iceberg); plain
    parquet versions carry the identical dataflow. Runs to completion
    (availableNow) and returns the final merged state as a batch
    DataFrame.
    """
    from ..operators import incremental as INC

    return _continuous_state(
        sdf,
        lambda b: INC.agg_state(b, keys, aggs),
        lambda prev, cur: INC.merge_agg_states([prev, cur], keys, aggs),
        query_name=query_name,
        state_root=state_root,
        state_partitions=state_partitions,
    )


def continuous_histogram(
    sdf: DataFrame,
    value: str,
    *,
    lo: int,
    width: int,
    num_bins: int,
    keys: list | None = None,
    query_name: str,
    state_root: str | None = None,
    state_partitions: int | None = 4,
) -> DataFrame:
    """Continuously-maintained distribution state: each micro-batch is
    histogrammed (``operators/histogram.py`` — an algebraic bin
    aggregate) and folded into the stored histogram via
    ``merge_histograms``; ``histogram_quantiles`` then reads
    monitoring quantiles off the state without ever rescanning
    history. Same versioned-state / at-least-once machinery as
    :func:`continuous_rollup` (see its docstring for the retry and
    resume contract).
    """
    from ..operators import histogram as HG

    ks = list(keys or [])

    return _continuous_state(
        sdf,
        lambda b: HG.histogram(
            b, value, lo=lo, width=width, num_bins=num_bins, keys=ks
        ),
        lambda prev, cur: HG.merge_histograms([prev, cur], keys=ks),
        query_name=query_name,
        state_root=state_root,
        state_partitions=state_partitions,
    )


def continuous_heavy_hitters(
    sdf: DataFrame,
    items_col: str,
    *,
    k: int,
    query_name: str,
    state_root: str | None = None,
    state_partitions: int | None = 4,
) -> DataFrame:
    """Continuously-maintained frequency summary: each micro-batch is
    Misra-Gries-sketched (``operators/sketch.py`` — bounded
    <= partitions x (k+1) rows) and folded into the stored summary via
    ``merge_mg_summaries`` (mergeable-summaries trim, so the state
    stays <= k counters + totals FOREVER while the stream grows — the
    bounded-state property the exact streaming vocabulary rollup
    cannot have, since its state is vocabulary-sized by definition).
    The returned final state feeds ``heavy_hitters_from_summary`` for
    an exact answer over the accumulated corpus, or is read directly
    for approximate monitoring (each counter is within N/(k+1) of the
    item's true count). Same versioned-state / at-least-once machinery
    as :func:`continuous_rollup` (see its docstring for the retry and
    resume contract)."""
    from ..operators import sketch as SK

    return _continuous_state(
        sdf,
        lambda b: SK.misra_gries_sketch(b, items_col, k=k),
        lambda prev, cur: SK.merge_mg_summaries([prev, cur], k=k),
        query_name=query_name,
        state_root=state_root,
        state_partitions=state_partitions,
    )


def _continuous_state(
    sdf: DataFrame,
    make_state,
    merge_states,
    *,
    query_name: str,
    state_root: str | None,
    state_partitions: int | None,
) -> DataFrame:
    """foreachBatch versioned-state fold shared by continuous_rollup
    and continuous_histogram: per batch, ``make_state(batch_df)``
    builds the grain-sized state and ``merge_states(prev, cur)`` folds
    it into the newest on-disk version with id < batch_id (the
    at-least-once-safe predecessor choice documented in
    continuous_rollup)."""
    import os
    import tempfile

    spark = sdf.sparkSession
    root = state_root or tempfile.mkdtemp(prefix=f"dcd_rollup_{query_name}_")
    ran: list = []

    def _versions() -> list:
        return sorted(
            (int(d[1:]), os.path.join(root, d))
            for d in os.listdir(root)
            if d.startswith("v") and d[1:].isdigit()
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        state = make_state(batch_df)
        prior = [p for i, p in _versions() if i < batch_id]
        if prior:
            prev_state = batch_df.sparkSession.read.parquet(prior[-1])
            state = merge_states(prev_state, state)
        out = os.path.join(root, f"v{batch_id}")
        state.write.mode("overwrite").parquet(out)
        ran.append(batch_id)

    writer = sdf.writeStream.foreachBatch(_merge).queryName(query_name)
    _run_to_completion(spark, writer, query_name, state_partitions)
    # the answer is THIS run's newest batch when anything ran: with a
    # fresh checkpoint batch ids restart at 0, and a reused state_root
    # may hold higher-numbered versions from an earlier, longer run —
    # returning the on-disk max would resurrect that stale state. The
    # on-disk max is correct only for the pure-resume case (durable
    # checkpoint skipped every batch, nothing ran here).
    if ran:
        return spark.read.parquet(os.path.join(root, f"v{max(ran)}"))
    final = _versions()
    if not final:
        raise RuntimeError(f"{query_name!r}: no micro-batch ran")
    return spark.read.parquet(final[-1][1])


def stage_time_splits(
    df: DataFrame,
    ts_col: str,
    n: int,
    *,
    tiebreak_cols: list | None = None,
    dir_suffix: str = "tsplits",
) -> str:
    """Write ``df`` as ``n`` TIME-CONTIGUOUS single-file parquet splits
    (ntile over one global (ts, tiebreaks) sort) staged in arrival
    order — the ordered-replay counterpart of
    :func:`stage_disjoint_splits` for operators whose cross-batch
    state is ORDER-SENSITIVE (sequence stitching, frontiers): split k
    holds events strictly before split k+1's in the total order, which
    is exactly the landing-zone arrival contract those operators
    assume in production. The global sort is fixture-side only (the
    replay fixture is test-scale by construction); production streams
    read a landing zone that already arrives in time order."""
    import glob
    import tempfile

    from pyspark.sql import Window

    order = [F.col(ts_col), *[F.col(c) for c in (tiebreak_cols or [])]]
    w = Window.orderBy(*order)
    root = tempfile.mkdtemp(prefix=f"dcd_{dir_suffix}_")
    split = df.withColumn("__split", F.ntile(n).over(w))
    paths: list[str] = []
    for i in range(1, n + 1):
        d = f"{root}/part{i}"
        split.filter(F.col("__split") == i).drop("__split").coalesce(
            1
        ).write.parquet(d)
        paths.extend(sorted(glob.glob(f"{d}/part-*.parquet")))
    return stage_files(*paths, dir_suffix=dir_suffix)


def continuous_transitions(
    sdf: DataFrame,
    key_cols: list,
    ts_col: str,
    state_col: str,
    *,
    tiebreak_cols: list | None = None,
    query_name: str,
    state_root: str | None = None,
    state_partitions: int | None = 4,
) -> DataFrame:
    """Continuously-maintained MARKOV TRANSITION counts — the first
    ORDER-SENSITIVE member of the continuous_* family: unlike the
    rollup/histogram/heavy-hitter folds (commutative merges, any batch
    order), consecutive-step counting must stitch each key's LAST
    event of all prior batches onto its FIRST event of the current
    batch, or every batch boundary silently drops one transition per
    active key. State is therefore two grain-bounded tables, versioned
    per batch like :func:`continuous_rollup` (same at-least-once
    retry/resume contract — see its docstring):

    - ``counts``: (from_state, to_state, n) — |states|^2 rows;
    - ``frontier``: each key's latest (state, ts, tiebreaks) row —
      |keys| rows, the cross-batch stitch point.

    Per micro-batch: the previous frontier is unioned UNDER the batch
    (its rows have no predecessor, so it emits no steps of its own),
    one keyed window sort produces intra-batch steps PLUS the stitch
    step per key, the batch's step counts fold into the stored counts,
    and the new frontier is the per-key (ts, tiebreaks)-max row of
    frontier-union-batch (keys idle this batch keep their row).
    Requires time-ordered arrival (``stage_time_splits`` in fixtures;
    a time-partitioned landing zone in production) — with interleaved
    arrival the stitched sequence is the ARRIVAL order, not event
    order, the same caveat every sequence-stateful stream carries.

    Runs to completion (availableNow) and returns the final transition
    matrix with the same ``(from_state, to_state, n, p_ppm)`` contract
    as the batch operator
    (:func:`~pyspark_datacol_diff_spark.operators.range_join.transition_counts`)
    — streaming == batch equivalence is the correctness gate.
    """
    import os
    import tempfile

    from pyspark.sql import Window

    spark = sdf.sparkSession
    root = state_root or tempfile.mkdtemp(
        prefix=f"dcd_transitions_{query_name}_"
    )
    os.makedirs(os.path.join(root, "counts"), exist_ok=True)
    os.makedirs(os.path.join(root, "frontier"), exist_ok=True)
    ran: list = []
    ties = list(tiebreak_cols or [])
    cols = [*key_cols, ts_col, state_col, *ties]

    def _versions(sub: str) -> list:
        base = os.path.join(root, sub)
        return sorted(
            (int(d[1:]), os.path.join(base, d))
            for d in os.listdir(base)
            if d.startswith("v") and d[1:].isdigit()
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        ev = batch_df.select(*cols)
        prior_f = [p for i, p in _versions("frontier") if i < batch_id]
        if prior_f:
            ev = ss.read.parquet(prior_f[-1]).select(*cols).unionByName(ev)
        wk = Window.partitionBy(*key_cols).orderBy(ts_col, *ties)
        steps = (
            ev.select(
                F.lag(state_col).over(wk).alias("from_state"),
                F.col(state_col).alias("to_state"),
            )
            .filter(F.col("from_state").isNotNull())
            .groupBy("from_state", "to_state")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        prior_c = [p for i, p in _versions("counts") if i < batch_id]
        if prior_c:
            prev = ss.read.parquet(prior_c[-1])
            steps = (
                prev.unionByName(steps)
                .groupBy("from_state", "to_state")
                .agg(F.sum("n").alias("n"))
            )
        steps.write.mode("overwrite").parquet(
            os.path.join(root, "counts", f"v{batch_id}")
        )
        last = Window.partitionBy(*key_cols).orderBy(
            F.desc(ts_col), *[F.desc(t) for t in ties]
        )
        frontier = (
            ev.withColumn("__rn", F.row_number().over(last))
            .filter(F.col("__rn") == 1)
            .select(*cols)
        )
        frontier.write.mode("overwrite").parquet(
            os.path.join(root, "frontier", f"v{batch_id}")
        )
        ran.append(batch_id)

    writer = sdf.writeStream.foreachBatch(_merge).queryName(query_name)
    _run_to_completion(spark, writer, query_name, state_partitions)
    if ran:
        final = os.path.join(root, "counts", f"v{max(ran)}")
    else:
        vs = _versions("counts")
        if not vs:
            raise RuntimeError(f"{query_name!r}: no micro-batch ran")
        final = vs[-1][1]
    counts = spark.read.parquet(final)
    totals = counts.groupBy("from_state").agg(F.sum("n").alias("__n_from"))
    return counts.join(F.broadcast(totals), "from_state").select(
        "from_state",
        "to_state",
        "n",
        F.expr(f"n * {PPM}L DIV __n_from").alias("p_ppm"),
    )


def continuous_cusum(
    sdf: DataFrame,
    key_cols: list,
    ts_col: str,
    value_col: str,
    *,
    drift: int,
    threshold: int,
    tiebreak_cols: list | None = None,
    query_name: str,
    state_root: str | None = None,
    state_partitions: int | None = 4,
) -> DataFrame:
    """Continuously-maintained per-key CUSUM drift monitor — the second
    ORDER-SENSITIVE continuous fold (after continuous_transitions):
    the classic change-detection statistic ``cusum_i = S_i - min(0,
    min_{j<=i} S_j)`` with ``S_i = sum of (value - drift) over the
    key's first i events`` is a PREFIX computation, so a per-batch
    window silently restarts every key's accumulation at each batch
    boundary. The cross-batch algebra that makes it streamable: per
    key, state ``(C, M)`` = (total S so far, min(0, all S so far)),
    and a batch's local prefix sums ``L_i`` / running minima ``LM_i``
    extend it exactly — ``S_i = C + L_i``, running min ``= min(M, C +
    LM_i)`` — so each batch is ONE keyed window plus a state join, and
    the fold replays the batch operator bit-for-bit whatever the batch
    cuts (quality.cusum_alarms' semantics; streaming == batch is the
    correctness gate).

    State is ONE key-grain table versioned per batch (the
    continuous_rollup at-least-once retry/resume contract):
    ``(keys, C, M, max_cusum, n_alarms, n_rows)`` — bounded by |keys|,
    never by input volume. Requires time-ordered arrival
    (stage_time_splits in fixtures; a time-partitioned landing zone in
    production) — the same caveat every sequence-stateful stream
    carries.

    Runs to completion (availableNow) and returns the per-key census
    ``(*key_cols, n_rows, max_cusum, n_alarms)`` where ``n_alarms``
    counts rows with ``cusum > threshold``.

    Reference scope note: no streaming exists in the reference
    (SURVEY.md §2.8); north-star extension surface.
    """
    import os
    import tempfile

    from pyspark.sql import Window

    spark = sdf.sparkSession
    root = state_root or tempfile.mkdtemp(prefix=f"dcd_cusum_{query_name}_")
    os.makedirs(os.path.join(root, "state"), exist_ok=True)
    ran: list = []
    ties = list(tiebreak_cols or [])

    def _versions() -> list:
        base = os.path.join(root, "state")
        return sorted(
            (int(d[1:]), os.path.join(base, d))
            for d in os.listdir(base)
            if d.startswith("v") and d[1:].isdigit()
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        wk = (
            Window.partitionBy(*key_cols)
            .orderBy(ts_col, *ties)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        last_key = F.struct(F.col(ts_col), *[F.col(t) for t in ties])
        loc = (
            batch_df.select(
                *key_cols, ts_col, *ties,
                (F.col(value_col).cast("long") - F.lit(drift)).alias("__v"),
            )
            .withColumn("__L", F.sum("__v").over(wk))
            .withColumn("__LM", F.min(F.col("__L")).over(wk))
        )
        prior = [p for i, p in _versions() if i < batch_id]
        if prior:
            st = ss.read.parquet(prior[-1])
        else:
            key_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in loc.select(*key_cols).schema.fields
            )
            st = ss.createDataFrame(
                [],
                key_ddl + ", C bigint, M bigint, max_cusum bigint, "
                "n_alarms bigint, n_rows bigint",
            )
        j = loc.join(st, key_cols, "left").select(
            *key_cols, ts_col, *ties, "__L", "__LM",
            F.coalesce("C", F.lit(0)).alias("C"),
            F.coalesce("M", F.lit(0)).alias("M"),
            F.coalesce("max_cusum", F.lit(0)).alias("max_cusum"),
            F.coalesce("n_alarms", F.lit(0)).alias("n_alarms"),
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        )
        cusum = (F.col("C") + F.col("__L")) - F.least(
            F.col("M"), F.col("C") + F.col("__LM")
        )
        summ = j.groupBy(*key_cols).agg(
            (F.first("C") + F.max_by("__L", last_key)).alias("C2"),
            F.least(
                F.first("M"), F.first("C") + F.min("__LM")
            ).alias("M2"),
            F.greatest(
                F.first("max_cusum"), F.max(cusum)
            ).alias("maxc2"),
            (
                F.first("n_alarms")
                + F.sum((cusum > threshold).cast("long"))
            ).alias("nal2"),
            (F.first("n_rows") + F.count(F.lit(1))).alias("nr2"),
        )
        new_state = summ.select(
            *key_cols,
            F.col("C2").alias("C"),
            F.col("M2").alias("M"),
            F.col("maxc2").alias("max_cusum"),
            F.col("nal2").alias("n_alarms"),
            F.col("nr2").alias("n_rows"),
        )
        # keys idle this batch keep their state rows untouched
        if prior:
            idle = st.join(summ.select(*key_cols), key_cols, "left_anti")
            new_state = new_state.unionByName(idle)
        new_state.write.mode("overwrite").parquet(
            os.path.join(root, "state", f"v{batch_id}")
        )
        ran.append(batch_id)

    writer = sdf.writeStream.foreachBatch(_merge).queryName(query_name)
    _run_to_completion(spark, writer, query_name, state_partitions)
    if ran:
        final = os.path.join(root, "state", f"v{max(ran)}")
    else:
        vs = _versions()
        if not vs:
            raise RuntimeError(f"{query_name!r}: no micro-batch ran")
        final = vs[-1][1]
    return spark.read.parquet(final).select(
        *key_cols, "n_rows", "max_cusum", "n_alarms"
    )
