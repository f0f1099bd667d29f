"""Regression tests for the round-1 advisor findings (ADVICE.md):

1. float_tol: NaN-vs-NaN is not a diff (matches the eqNullSafe default).
2. asof_join: null timestamps never produce false matches.
3. hash_bucket: null keys land in one deterministic bucket, not the
   fallthrough split / silent drop.
4. validate_schemas: dtype divergence warns (or raises with strict_types).
5. cosine_topk_arrow: non-long id columns work (types come from schemas).
"""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_datacol_diff_spark.errors import SchemaMismatchError
from pyspark_datacol_diff_spark.operators import similarity as SIM
from pyspark_datacol_diff_spark.operators.asof import asof_join
from pyspark_datacol_diff_spark.operators.diff import diff, validate_schemas
from pyspark_datacol_diff_spark.operators.sampling import (
    hash_bucket,
    hash_split,
    stratified_sample,
)

NAN = float("nan")


def _flags(df):
    return {r["id_s1"] or r["id_s2"]: r["Flag"] for r in df.collect()}


@pytest.fixture(scope="module")
def float_pair(spark):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    s1 = spark.createDataFrame(
        [(1, NAN), (2, NAN), (3, 1.0), (4, 1.0)], schema
    )
    s2 = spark.createDataFrame(
        [(1, NAN), (2, 2.0), (3, 1.0 + 1e-9), (4, 5.0)], schema
    )
    return s1, s2


def test_float_tol_nan_vs_nan_is_equal(spark, float_pair):
    s1, s2 = float_pair
    got = _flags(diff(s1, s2, ["id"], float_tol=1e-6))
    assert got[1] == "NODIFF"  # NaN vs NaN: equal, like the <=> default
    assert got[2] == ""        # NaN vs number: a diff
    assert got[3] == "NODIFF"  # within tolerance
    assert got[4] == ""        # beyond tolerance


def test_float_tol_matches_default_semantics_on_nan(spark, float_pair):
    s1, s2 = float_pair
    with_tol = _flags(diff(s1, s2, ["id"], float_tol=1e-12))
    default = _flags(diff(s1, s2, ["id"]))
    # a (tiny) tolerance must never be STRICTER than exact equality
    for k, flag in default.items():
        if flag == "NODIFF":
            assert with_tol[k] == "NODIFF"


def test_asof_null_right_ts_never_matches(spark):
    left = spark.createDataFrame([("u1", 10, "c1")], ["user", "t", "cid"])
    right = spark.createDataFrame(
        [("u1", None, "vnull")],
        T.StructType(
            [
                T.StructField("user", T.StringType()),
                T.StructField("t", T.LongType()),
                T.StructField("vid", T.StringType()),
            ]
        ),
    )
    for direction in ("backward", "forward"):
        out = asof_join(
            left, right, ["user"], "t", "t", ["vid"], direction=direction
        ).collect()
        assert len(out) == 1
        assert out[0]["vid_r"] is None  # null-ts right row is no candidate


def test_asof_null_left_ts_gets_nulls(spark):
    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("t", T.LongType()),
            T.StructField("cid", T.StringType()),
        ]
    )
    left = spark.createDataFrame([("u1", None, "cnull"), ("u1", 20, "c1")], schema)
    right = spark.createDataFrame([("u1", 10, "v1")], ["user", "t", "vid"])
    for direction in ("backward", "forward"):
        got = {
            r["cid"]: r["vid_r"]
            for r in asof_join(
                left, right, ["user"], "t", "t", ["vid"], direction=direction
            ).collect()
        }
        assert got["cnull"] is None, direction
    # the non-null left row still matches normally
    back = {
        r["cid"]: r["vid_r"]
        for r in asof_join(left, right, ["user"], "t", "t", ["vid"]).collect()
    }
    assert back["c1"] == "v1"


def test_hash_bucket_null_key_is_deterministic(spark):
    df = spark.createDataFrame(
        [(None,), ("a",), (None,)], T.StructType([T.StructField("k", T.StringType())])
    )
    buckets = [r["b"] for r in df.select(hash_bucket("k").alias("b")).collect()]
    assert all(b is not None for b in buckets)  # nulls bucket, not null out
    null_buckets = {
        r["b"]
        for r in df.filter(F.col("k").isNull())
        .select(hash_bucket("k").alias("b"))
        .collect()
    }
    assert len(null_buckets) == 1  # one stable bucket for all null keys


def test_hash_split_and_stratified_handle_null_keys(spark):
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("g", T.StringType())]
    )
    df = spark.createDataFrame([(None, "en"), ("a", "en")], schema)
    labels = {
        (r["k"],): r["split"]
        for r in hash_split(df, "k", [("train", 0.5), ("test", 0.5)]).collect()
    }
    assert labels[(None,)] in ("train", "test")  # assigned, not fallthrough-only
    # stratified keep-verdict for a null key is all-or-nothing (same bucket)
    kept = stratified_sample(df, "k", "g", {"en": 1.0}).count()
    assert kept == 2  # fraction 1.0 keeps null-key rows too


def test_validate_schemas_dtype_divergence(spark, caplog):
    s1 = spark.createDataFrame([(1, "x")], ["id", "v"])
    s2 = spark.createDataFrame([(1, 2)], ["id", "v"])
    with caplog.at_level("WARNING", logger="pyspark_datacol_diff_spark.diff"):
        validate_schemas(s1, s2)  # default: warns, does not raise
    assert any("dtype divergence" in m for m in caplog.messages)
    with pytest.raises(SchemaMismatchError) as e:
        validate_schemas(s1, s2, strict_types=True)
    assert "v" in str(e.value)


def test_cosine_topk_arrow_string_ids(spark):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        ("a", [1.0, 0.0]),
        ("b", [0.9, 0.1]),
        ("c", [0.0, 1.0]),
        ("d", [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, schema)
    q = df.filter(F.col("vec_id") == "a").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got = SIM.cosine_topk_arrow(df, q, 2).collect()
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == [
        "b",
        "d",
    ]
    assert all(isinstance(r["qid"], str) for r in got)
    assert all(not math.isnan(r["sim"]) for r in got)


# --- round-2 advisor findings ---------------------------------------------


def _write_empty_universe_tables(spark, tmpdir):
    """documents with disjoint vocab (no 3-gram overlap) and one-hot
    embeddings (pairwise cosine 0): both near-dup universes are empty."""
    import pyspark.sql.types as T

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"tok{i}x{j}" for j in range(8)), "en", "s", 40)
            for i in range(1, 6)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(64)], 0) for i in range(5)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        ),
    )
    docs.write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    emb.write.mode("overwrite").parquet(f"{tmpdir}/embeddings.parquet")


def test_recall_gates_empty_universe_match_oracle_literals(spark, tmp_path):
    """ADVICE r2: with zero near-dup pairs the full-outer join is empty;
    the global sums must coalesce to the oracle's literal 0/0/TRUE, not
    NULL/NULL/NULL."""
    import __spark_entry__ as E

    _write_empty_universe_tables(spark, str(tmp_path))
    row = E.queries()["minhash_lsh_docs"](spark, str(tmp_path)).collect()[0]
    assert (row["n_strong"], row["n_below_025"], row["recall_ok"]) == (
        0, 0, True,
    )
    row = E.queries()["lsh_near_dup_recall"](spark, str(tmp_path)).collect()[0]
    assert (row["n_exact"], row["n_false_pos"], row["recall_ok"]) == (
        0, 0, True,
    )


def test_recall_gate_exact_at_80_percent_boundary(spark):
    """ADVICE r2: a float-product gate (hits >= 0.8*n) is exact only
    when the rounding happens to land right (0.8*5 rounds to 4.0, but
    the pattern is one ulp from flipping); the integer
    cross-multiplied gate (5*hits >= 4*n) is exact in BIGINT at every
    boundary. Pin it across n = 5..400."""
    for n in (5, 25, 125, 400):
        hits = (4 * n) // 5  # exactly 80%
        df = spark.createDataFrame(
            [(1, 1)] * hits + [(1, 0)] * (n - hits), "in_e int, in_l int"
        )
        h = F.coalesce(F.sum(F.when(F.col("in_l") == 1, 1)), F.lit(0))
        tot = F.coalesce(F.sum("in_e"), F.lit(0))
        row = df.agg((h * 5 >= tot * 4).alias("int_gate")).collect()[0]
        assert row["int_gate"] is True, f"gate flipped at n={n}"


def test_distribution_drift_rejects_bad_threshold(spark):
    """Round-4 review fix: threshold_pct outside [0, 100) silently
    produced nonsense (negative flags identical distributions, >=100
    can never flag) — now a ValueError."""
    import pytest

    from pyspark_datacol_diff_spark.operators.diff import distribution_drift
    from pyspark.sql import functions as F

    df = spark.range(10)
    for bad in (-1, 100, 250):
        with pytest.raises(ValueError, match="threshold_pct"):
            distribution_drift(df, df, F.col("id") % 2, threshold_pct=bad)
    # boundary values accepted
    distribution_drift(df, df, F.col("id") % 2, threshold_pct=0)
    distribution_drift(df, df, F.col("id") % 2, threshold_pct=99)


def test_check_rules_by_rejects_reserved_key_names(spark):
    """Round-4 review fix: a group key named like an output column
    ('rule', 'n_rows', 'n_violations', 'passed') would collide with the
    unpivot/report columns — now a ValueError."""
    import pytest

    from pyspark_datacol_diff_spark.operators.quality import check_rules_by
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a")], "v long, rule string")
    with pytest.raises(ValueError, match="reserved"):
        check_rules_by(df, ["rule"], {"v_pos": F.col("v") > 0})


def test_bm25_releases_its_cache(spark):
    """Round-4 review fix: bm25_top_docs must not leak its tf persist —
    the top-k result is materialized eagerly and the cache dropped
    before returning."""
    from pyspark_datacol_diff_spark.operators.corpus import bm25_top_docs

    docs = spark.createDataFrame(
        [(1, "spark join spark"), (2, "join only"), (3, "nothing here")],
        "doc_id long, text string",
    )
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    out = bm25_top_docs(docs, "doc_id", "text", ["spark", "join"], k=2)
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1, 2]
    # the tf cache must be gone; only the k-row localCheckpoint (and any
    # pre-existing blocks) may remain
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached_names = [i.name() or "" for i in infos]
    assert not any("In-memory table" in n for n in cached_names)


# --- round-5 advice items ---


def test_histogram_bins_integer_division_beyond_2_53(spark):
    """Round-5 advice: bin assignment must be integer division — the
    old floor((v-lo)/width) went through double division, which
    mis-bins once |v-lo| exceeds ~2^53 (the rounded quotient can
    cross an integer boundary)."""
    from pyspark_datacol_diff_spark.operators.histogram import histogram

    width = 3
    # 2^53+1 is not representable as a double; (2^53+1)/3 rounds to a
    # quotient whose floor differs from the exact integer division at
    # nearby values — pin several boundary-straddling points
    vals = [2**53 - 1, 2**53, 2**53 + 1, 2**53 + 2, 2**53 + 3, 7, 0]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    big_bins = 2**62
    out = histogram(df, "v", lo=0, width=width, num_bins=big_bins)
    got = {r["bin"]: r["n"] for r in out.collect()}
    import collections

    want = collections.Counter(v // width for v in vals)
    assert got == dict(want)
    # lo_edge stays consistent with the integer bin
    for r in out.collect():
        assert r["lo_edge"] == r["bin"] * width


def test_histogram_underflow_clamps_before_divide(spark):
    """Negative (v - lo) clamps to bin 0 BEFORE the divide, so
    trunc-vs-floor semantics can never differ."""
    from pyspark_datacol_diff_spark.operators.histogram import histogram

    df = spark.createDataFrame([(-100,), (-1,), (0,), (5,)], "v long")
    out = histogram(df, "v", lo=0, width=10, num_bins=4)
    got = {r["bin"]: r["n"] for r in out.collect()}
    assert got == {0: 4}


def test_histogram_quantiles_rejects_grouped_input(spark):
    """Round-5 advice: a grouped histogram silently collapsed into one
    distribution — now a ValueError naming the extra columns."""
    import pytest

    from pyspark_datacol_diff_spark.operators.histogram import (
        histogram,
        histogram_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 9)], "src string, v long"
    )
    grouped = histogram(df, "v", lo=0, width=2, num_bins=8, keys=["src"])
    with pytest.raises(ValueError, match="src"):
        histogram_quantiles(grouped, [500])
    # ungrouped still works
    flat = histogram(df, "v", lo=0, width=2, num_bins=8)
    rows = histogram_quantiles(flat, [500]).collect()
    assert len(rows) == 1


def test_drop_near_dups_priority_with_string_ids(spark):
    """Round-5 advice: priority survivor election used -node negation,
    restricting ids to numeric types. String ids must now work:
    highest priority wins, min-id breaks ties."""
    from pyspark_datacol_diff_spark.operators.cluster import drop_near_dups

    docs = spark.createDataFrame(
        [("a", 5), ("b", 9), ("c", 9), ("z", 1)],
        "doc_id string, quality long",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    kept = {r["doc_id"] for r in
            drop_near_dups(docs, pairs, "doc_id", priority_col="quality").collect()}
    # component {a,b,c}: max quality 9 shared by b,c -> min id 'b' wins
    assert kept == {"b", "z"}


def test_drop_near_dups_priority_all_null_keeps_one(spark):
    """All-null priorities must still elect exactly one survivor (the
    min id), not drop the whole component."""
    from pyspark_datacol_diff_spark.operators.cluster import drop_near_dups

    docs = spark.createDataFrame(
        [(1, None), (2, None), (9, 7)], "doc_id long, quality long"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in
            drop_near_dups(docs, pairs, "doc_id", priority_col="quality").collect()}
    assert kept == {1, 9}


def test_session_stats_oracle_boundary_gap(spark):
    """Round-5 advice follow-up — the advice suggested `>=` to match an
    assumed exclusive window end, but MEASURED pyspark 4.1.2 behavior
    is the opposite: session_window MERGES sessions that touch, so an
    event exactly gap after its predecessor stays in the SAME session
    and only a strictly-greater gap breaks. Every session oracle
    therefore uses strict `>` (this also matches the custom
    sessionize's `<= gap` continuation). Pinned by running a
    boundary-gap event set through BOTH Spark session_window and the
    oracle's lag-comparator convention."""
    import datetime as dt

    import duckdb
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=30)),          # exactly gap -> SAME session
        (1, base + dt.timedelta(minutes=30, seconds=1)),
        (2, base),
        (2, base + dt.timedelta(minutes=29, seconds=59)),  # < gap -> same
        (3, base),
        (3, base + dt.timedelta(minutes=30, microseconds=1)),  # > gap -> NEW
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sw = F.session_window("ts", "30 minutes")
    spark_sessions = (
        df.groupBy("user_id", sw).count().count()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({u}, TIMESTAMP '{t.isoformat(sep=' ')}')" for u, t in rows
        )
        + ") AS t(user_id, ts)"
    )
    oracle_sessions = con.execute(
        """
        WITH d AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        SELECT sum(brk) FROM d
        """
    ).fetchone()[0]
    assert spark_sessions == oracle_sessions == 4


# ---------------------------------------------------------------------------
# round-7 advisor findings (ADVICE.md r06)
# ---------------------------------------------------------------------------


def _wav_header(n_samples: int, rate: int = 8000) -> bytes:
    """Spec-exact canonical mono 16-bit PCM WAV header (44 bytes) with a
    data chunk of ``n_samples`` zero samples appended."""
    import struct

    data = b"\x00\x00" * n_samples
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_pcm_features_zero_sample_wav_is_null_not_abort(spark):
    """r06 medium: a spec-valid WAV with data_size=0 used to abort the
    whole job (slice(samples, 1, -1) raises); the totality contract says
    non-feature-bearing payloads yield the NULL struct instead."""
    from pyspark_datacol_diff_spark.operators import multimodal as MM

    rows = [
        (1, bytearray(_wav_header(0))),   # degenerate: zero samples
        (2, bytearray(_wav_header(3))),   # tiny but feature-bearing
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {
        r["id"]: r["f"]
        for r in df.select("id", MM.pcm_features("payload").alias("f")).collect()
    }
    assert got[1] is None                      # degenerate row: NULL struct
    assert got[2] is not None                  # neighbours unaffected
    assert got[2]["n_samples"] == 3
    assert got[2]["energy"] == 0               # all-zero samples
    assert got[2]["zero_cross"] == 0


def test_pagerank_exact_rejects_fractional_weights(spark):
    """r06 low: a weight in (0, 1) passed the pre-cast positivity guard
    and truncated to 0 (deg=0 -> DIVIDE_BY_ZERO / dropped mass). The
    guard now validates the post-cast value and integrality."""
    from pyspark_datacol_diff_spark.operators.cluster import pagerank_exact

    frac = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 1.0)], "src long, dst long, w double"
    )
    with pytest.raises(Exception, match="positive integer"):
        pagerank_exact(frac, iterations=1, weight_col="w").collect()
    nonint = spark.createDataFrame(
        [(1, 2, 2.5), (2, 1, 1.0)], "src long, dst long, w double"
    )
    with pytest.raises(Exception, match="positive integer"):
        pagerank_exact(nonint, iterations=1, weight_col="w").collect()
    # integral doubles are fine: same answer as the long-typed column
    okd = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0), (3, 1, 2.0), (2, 1, 5.0)],
        "src long, dst long, w double",
    )
    okl = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 1), (3, 1, 2), (2, 1, 5)],
        "src long, dst long, w long",
    )
    rd = {r["node"]: r["rank"]
          for r in pagerank_exact(okd, iterations=2, weight_col="w").collect()}
    rl = {r["node"]: r["rank"]
          for r in pagerank_exact(okl, iterations=2, weight_col="w").collect()}
    assert rd == rl


def test_schema_diff_raises_on_case_folded_duplicates(spark):
    """r06 low: two columns in ONE schema differing only by case used to
    collapse silently (dict last-wins) and the report could omit a real
    difference; ambiguity now raises."""
    from pyspark_datacol_diff_spark.errors import InvalidArgumentError
    from pyspark_datacol_diff_spark.operators.diff import schema_diff

    amb = spark.createDataFrame([(1, 2)], "id long, x long").selectExpr(
        "id", "x as Value", "x as value"
    )
    clean = spark.createDataFrame([(1, 2)], "id long, value long")
    with pytest.raises(InvalidArgumentError, match="case-folded"):
        schema_diff(amb, clean)
    with pytest.raises(InvalidArgumentError, match="case-folded"):
        schema_diff(clean, amb)
    # unambiguous schemas still report as before
    other = spark.createDataFrame([(1, "a")], "id long, value string")
    rows = {r["column"]: r["status"] for r in schema_diff(clean, other).collect()}
    assert rows == {"value": "type_changed"}


def test_label_propagation_rejects_string_labels_at_call_time(spark):
    """r08 fresh-lens: the (cnt, -label) tie order needs numeric labels.
    Before the guard, string labels surfaced as a RUNTIME ANSI cast
    error mid-task (and with ANSI off would silently cast to NULL and
    corrupt the vote order); now a TypeError fires at call time."""
    from pyspark_datacol_diff_spark.operators.cluster import (
        label_propagation,
    )

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(1, "red")], "node long, label string")
    with pytest.raises(TypeError, match="numeric"):
        label_propagation(edges, seeds, rounds=1)
    # numeric labels still work
    ok = spark.createDataFrame([(1, 7)], "node long, label long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, ok, rounds=1).collect()
    }
    assert got == {1: 7, 2: 7}


def test_prefix_jaccard_threshold_one(spark):
    """r08 fresh-lens: at threshold=1.0 the prefix shrinks to ONE gram
    (plen = sz - ceil(sz) + 1 = 1) — identical sets share their rarest
    gram by construction (one global frequency order), so exact
    duplicates MUST still pair; anything below jaccard 1.0 must not."""
    from pyspark_datacol_diff_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (3, "alpha beta gamma delta zeta"),      # jaccard 2/4 of 1
        (4, "totally different text here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=1.0
        ).collect()
    }
    assert got == {(1, 2): 1.0}


def test_position_attribution_full_first_last_split(spark):
    """r08 fresh-lens: first_pct + last_pct = 100 leaves a zero middle
    pool — middles get exactly 0, every session still sums to PPM; a
    middle pool that does not split evenly gives its leftover ppm to
    the first touch (never lost, never doubled)."""
    import datetime as dt

    from pyspark_datacol_diff_spark.operators.range_join import (
        position_attribution,
    )

    b = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, b + dt.timedelta(minutes=i), 100 + i) for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long"
    )
    r = position_attribution(
        df, ["user_id"], "ts", first_pct=50, last_pct=50,
        tiebreak_cols=["event_id"],
    ).collect()
    got = sorted((x["touch_no"], x["credit_ppm"]) for x in r)
    assert got == [(1, 500_000), (2, 0), (3, 500_000)]

    five = spark.createDataFrame(
        [(1, b + dt.timedelta(minutes=i), 100 + i) for i in range(5)],
        "user_id long, ts timestamp, event_id long",
    )
    r = position_attribution(
        five, ["user_id"], "ts", first_pct=40, last_pct=40,
        tiebreak_cols=["event_id"],
    ).collect()
    assert sum(x["credit_ppm"] for x in r) == 1_000_000
    got = sorted((x["touch_no"], x["credit_ppm"]) for x in r)
    # middle pool 200_000 over 3 middles: 66_666 each, remainder 2 first
    assert got == [
        (1, 400_002), (2, 66_666), (3, 66_666), (4, 66_666), (5, 400_000)
    ]


# --- round-10 advice items (fixed in round 11) ---


def test_collapse_repeats_entry_keeps_null_event_type_group(spark, tmp_path):
    """ADVICE r10 #1: the collapse_repeats_events entry joined
    before/after counts with a plain inner equi-join on event_type,
    which drops a NULL event-type group (NULL never equals NULL) while
    the oracle's GROUP BY emits it. The join is now eqNullSafe."""
    import datetime as dt

    import __spark_entry__ as E

    b = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, b, 1, None),
        (2, b + dt.timedelta(minutes=1), 1, None),  # consecutive dup
        (3, b + dt.timedelta(minutes=2), 1, "click"),
        (4, b + dt.timedelta(minutes=3), 2, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r["event_type"]: (r["n_before"], r["n_kept"], r["n_dropped"])
        for r in E._q_collapse_repeats_events(spark, str(tmp_path)).collect()
    }
    assert out[None] == (2, 1, 1)  # the NULL group survives, run collapsed
    assert out["click"] == (2, 2, 0)


def test_chi2_per_cell_overflow_raises_loudly(spark, monkeypatch):
    """ADVICE r10 #2: past the n^3*PPM < 10^38 bound the per-cell
    DECIMAL(38,0) product went NULL in non-ANSI mode and F.sum silently
    skipped it — a silently WRONG statistic. It now raises at
    execution, like the rest of the checked-cast family."""
    from pyspark_datacol_diff_spark.operators import quality
    from pyspark_datacol_diff_spark.operators.quality import chi2_ppm

    df = spark.createDataFrame(
        [("a", "x")] * 100 + [("b", "y")] * 50, ["r", "c"]
    )
    # sane scale still works (150^3 * 1e6 << 1e38)
    ok = chi2_ppm(df, "r", "c").collect()[0]
    assert ok["n"] == 150 and ok["chi2_ppm"] > 0
    # blown scale must raise, not skip: O^2*n*ppm ~ 1e4*1.5e2*1e34 > 1e38
    # ANSI mode (the Spark 4 default) raises its own loud
    # NUMERIC_VALUE_OUT_OF_RANGE on the product; the in-plan guard
    # covers non-ANSI mode where the product would go silently NULL
    monkeypatch.setattr(quality, "PPM", 10**34)
    with pytest.raises(
        Exception, match="chi2_ppm.*overflow|NUMERIC_VALUE_OUT_OF_RANGE"
    ):
        chi2_ppm(df, "r", "c").collect()


def test_skew_probe_outer_rows_metric_emits_rank_column(spark):
    """ADVICE r10 #3: with metric="outer_rows" the ranked number is now
    emitted as an outer_rows column — a one-sided hot key shows
    pairs_out=0 but its true task size in outer_rows."""
    from pyspark_datacol_diff_spark.operators.skew import join_skew_probe

    left = spark.createDataFrame([(1,)] * 5 + [(2,)], ["k"])
    right = spark.createDataFrame([(2,)] * 2, ["k"])
    rows = join_skew_probe(
        left, right, ["k"], top=2, metric="outer_rows"
    ).collect()
    by_key = {r["k"]: r for r in rows}
    assert by_key[1]["pairs_out"] == 0 and by_key[1]["outer_rows"] == 5
    assert by_key[2]["pairs_out"] == 2 and by_key[2]["outer_rows"] == 2
    # the one-sided hot key ranks FIRST under the outer metric
    assert rows[0]["k"] == 1
    # the default pairs metric keeps its documented 4-column schema
    plain = join_skew_probe(left, right, ["k"], top=1)
    assert "outer_rows" not in plain.columns


def test_kmeans_exact_assign_releases_cache_on_error(spark):
    """ADVICE r10 #4: an exception inside the training loop (here: a
    corpus smaller than nlist, raised after the seed collect) must
    still release the persisted quantized frame."""
    from pyspark_datacol_diff_spark.operators.similarity import (
        kmeans_exact_assign,
    )

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])], ["id", "vec"]
    )
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    with pytest.raises(ValueError, match="nlist"):
        kmeans_exact_assign(df, id_col="id", vec_col="vec", nlist=10)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) <= before  # the training persist is gone


def test_reinlined_generator_filter_dedupes_nested_generators(spark):
    """ADVICE r10 #5: nested generators over the SAME offending Filter
    produced one duplicate finding per enclosing Generate; the detector
    now dedupes by the Filter line."""
    from pyspark_datacol_diff_spark import plans as P

    d = spark.createDataFrame([(1, "a b c d e")], ["id", "text"])
    expensive = F.transform(
        F.split("text", " "),
        lambda t: F.aggregate(
            F.sequence(F.lit(1), F.lit(3)),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.length(t) * i,
        ),
    )
    off = d.select("id", expensive.alias("arr")).select(
        "id", F.explode("arr").alias("v")
    )
    # a SECOND generator above the first: its subtree contains the same
    # offending Filter line
    nested = off.select(
        "id", "v", F.explode(F.array("v", "v")).alias("w")
    )
    findings = [
        f
        for f in P.scale_lint(nested)
        if f["code"] == "reinlined_generator_filter"
    ]
    assert len(findings) == 1
