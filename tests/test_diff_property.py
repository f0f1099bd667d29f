"""Property-based diff tests (SURVEY.md §5 item b): random perturbation
pairs where every expected count is known by construction.

Hypothesis draws which ids are s1-only / s2-only / modified per column;
the test builds the two sides from that plan and asserts the engine's
flag and per-column counts equal the plan's. Spark jobs are slow per
example, so examples are few but each covers four disposition classes
at once.
"""

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_datacol_diff_spark import compute_dataframe_diff
from pyspark_datacol_diff_spark.operators.diff import diff, flag_counts


@st.composite
def perturbation_plan(draw):
    n = draw(st.integers(min_value=10, max_value=60))
    ids = list(range(n))
    s1_only = set(draw(st.lists(st.sampled_from(ids), unique=True, max_size=5)))
    rest = [i for i in ids if i not in s1_only]
    s2_only = set(
        draw(st.lists(st.sampled_from(rest or [0]), unique=True, max_size=5))
    ) - s1_only if rest else set()
    common = [i for i in ids if i not in s1_only and i not in s2_only]
    diff_a = set(
        draw(st.lists(st.sampled_from(common or [0]), unique=True, max_size=8))
    ) & set(common)
    diff_b = set(
        draw(st.lists(st.sampled_from(common or [0]), unique=True, max_size=8))
    ) & set(common)
    return ids, s1_only, s2_only, diff_a, diff_b


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=perturbation_plan())
def test_counts_match_construction(spark, plan):
    ids, s1_only, s2_only, diff_a, diff_b = plan

    def row(i, side):
        a = f"a{i}x" if (side == 2 and i in diff_a) else f"a{i}"
        b = i + 1000 if (side == 2 and i in diff_b) else i
        return (i, a, b)

    s1 = spark.createDataFrame(
        [row(i, 1) for i in ids if i not in s2_only], "id long, a string, b long"
    )
    s2 = spark.createDataFrame(
        [row(i, 2) for i in ids if i not in s1_only], "id long, a string, b long"
    )
    d = diff(s1, s2, ["id"])
    flags = {r["Flag"]: r["cnt"] for r in flag_counts(d).collect()}

    n_common = len(ids) - len(s1_only) - len(s2_only)
    n_diff_rows = len(diff_a | diff_b)
    assert flags.get("S1_ONLY", 0) == len(s1_only)
    assert flags.get("S2_ONLY", 0) == len(s2_only)
    assert flags.get("", 0) == n_diff_rows
    assert flags.get("NODIFF", 0) == n_common - n_diff_rows

    _, stats = compute_dataframe_diff(s1, s2, ["id"])
    counts = dict(zip(stats["ColName"], stats["Count"]))
    assert counts.get("a", 0) == len(diff_a)
    assert counts.get("b", 0) == len(diff_b)


_VALUE = st.one_of(st.none(), st.sampled_from(["", "a", "b", "x y"]))


@st.composite
def changeset_pair(draw):
    """Two unique-key string frames: each key sits in s1 only, s2 only
    or both, and each value (NULL and '' included) may change between
    the sides."""
    s1, s2 = [], []
    for i in range(draw(st.integers(min_value=0, max_value=25))):
        where = draw(st.sampled_from(["s1", "s2", "both"]))
        old = (f"k{i}", draw(_VALUE), draw(_VALUE))
        new = (f"k{i}", draw(_VALUE), draw(_VALUE)) if draw(st.booleans()) else old
        if where != "s2":
            s1.append(old)
        if where != "s1":
            s2.append(new)
    return s1, s2


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pair=changeset_pair())
def test_apply_diff_round_trip_with_nulls(spark, pair):
    """``apply_diff(s1, diff(s1, s2))`` gives back s2 as a multiset, with
    NULL and '' kept apart (``null_equals_blank=False``) and inserts
    carried (``carry_unmatched=True``)."""
    from collections import Counter

    from pyspark_datacol_diff_spark.operators.diff import apply_diff

    s1_rows, s2_rows = pair
    schema = "id string, a string, b string"
    s1 = spark.createDataFrame(s1_rows, schema)
    s2 = spark.createDataFrame(s2_rows, schema)
    d = diff(s1, s2, ["id"], null_equals_blank=False, carry_unmatched=True)
    rebuilt = apply_diff(s1, d, ["id"], ["a", "b"])
    assert Counter(tuple(r) for r in rebuilt.collect()) == Counter(s2_rows)


@st.composite
def corpus_plan(draw):
    n = draw(st.integers(min_value=5, max_value=40))
    texts = draw(
        st.lists(
            st.text(
                alphabet="ab c", min_size=0, max_size=30
            ),
            min_size=n,
            max_size=n,
        )
    )
    return list(enumerate(texts))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpus_plan(), parts=st.integers(min_value=1, max_value=7))
def test_pack_sequences_invariants(spark, rows, parts):
    """Packing invariants on arbitrary corpora: every doc appears exactly
    once; per (bucket, pack) stream the offsets chain gap-free
    (offset' == (offset + n_tokens) % target with pack_no advancing by
    the carry); output is independent of input partitioning."""
    from pyspark_datacol_diff_spark.operators.corpus import pack_sequences

    target = 7
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(parts)
    out = pack_sequences(
        df, "doc_id", "text", target_tokens=target, num_buckets=3
    ).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in rows)
    by_stream = {}
    for r in sorted(out, key=lambda r: (r["bucket"], r["pack_no"], r["pack_offset"])):
        by_stream.setdefault(r["bucket"], []).append(r)
    for rs in by_stream.values():
        pos = 0
        for r in rs:
            assert (r["pack_no"], r["pack_offset"]) == (pos // target, pos % target)
            pos += r["n_tokens"]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpus_plan())
def test_incremental_new_partitions_batch(spark, rows):
    """Splitting any corpus into store/batch: surviving rows are exactly
    the batch keys absent from the store, one per key (lowest id)."""
    from pyspark.sql import functions as F

    from pyspark_datacol_diff_spark.operators.dedup import incremental_new

    store_rows = [(i, t) for i, t in rows if i % 2 == 0]
    batch_rows = [(i, t) for i, t in rows if i % 2 == 1]
    if not batch_rows:
        return
    store = spark.createDataFrame(
        store_rows or [(0, "<none>")], ["doc_id", "text"]
    ).select(F.md5("text").alias("fp"))
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["text"]
        for r in incremental_new(
            batch, store, "doc_id", F.md5("text"), key_name="fp"
        ).collect()
    }
    store_texts = {t for _, t in store_rows} | ({"<none>"} if not store_rows else set())
    # expected: the first (lowest-id) batch row per novel text
    first_per_text = {}
    for i, t in sorted(batch_rows):
        if t not in store_texts and t not in first_per_text:
            first_per_text[t] = i
    assert got == {i: t for t, i in first_per_text.items()}


@st.composite
def interval_stream(draw):
    """Random (key, t, state) stream with expected islands computable by
    a trivial reference fold."""
    n_keys = draw(st.integers(min_value=1, max_value=4))
    rows = []
    for k in range(n_keys):
        n = draw(st.integers(min_value=1, max_value=12))
        states = draw(
            st.lists(
                st.sampled_from(["a", "b", "c", None]),
                min_size=n, max_size=n,
            )
        )
        rows += [(k, t, s) for t, s in enumerate(states)]
    return rows


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=interval_stream())
def test_change_intervals_match_reference_fold(spark, rows):
    from pyspark_datacol_diff_spark.operators.diff import change_intervals

    # driver-side reference: fold each key's ordered stream into runs
    expected = set()
    by_key = {}
    for k, t, s in rows:
        by_key.setdefault(k, []).append((t, s))
    for k, seq in by_key.items():
        seq.sort()
        runs = []  # [state, start, count]
        for t, s in seq:
            if runs and runs[-1][0] == s:
                runs[-1][2] += 1
            else:
                runs.append([s, t, 1])
        for i, (s, start, cnt) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            expected.add((k, s, start, nxt, cnt))

    df = spark.createDataFrame(rows, "k long, t long, s string")
    got = {
        (r["k"], r["s"], r["valid_from"], r["valid_to"], r["n_obs"])
        for r in change_intervals(df, ["k"], "t", ["s"]).collect()
    }
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    k=st.integers(min_value=1, max_value=5),
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.integers(min_value=0, max_value=50),
        ),
        unique=True,
        min_size=1,
        max_size=40,
    ),
)
def test_cap_per_group_matches_reference_selection(spark, k, rows):
    import pyspark.sql.functions as F

    from pyspark_datacol_diff_spark.operators.sampling import cap_per_group

    expected = set()
    by_g = {}
    for g, i in rows:
        by_g.setdefault(g, []).append(i)
    for g, ids in by_g.items():
        expected |= {(g, i) for i in sorted(ids)[:k]}

    df = spark.createDataFrame(rows, "g string, id long").repartition(3)
    got = {
        (r["g"], r["id"])
        for r in cap_per_group(df, "g", k, order_by=[F.col("id")]).collect()
    }
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n1=st.lists(st.sampled_from("abcd"), min_size=1, max_size=40),
    n2=st.lists(st.sampled_from("abcde"), min_size=1, max_size=40),
    threshold=st.integers(min_value=1, max_value=50),
)
def test_distribution_drift_matches_reference_fractions(spark, n1, n2, threshold):
    from collections import Counter
    from fractions import Fraction

    from pyspark.sql import functions as F

    from pyspark_datacol_diff_spark import distribution_drift

    c1, c2 = Counter(n1), Counter(n2)
    bins = sorted(set(c1) | set(c2))
    want = {
        b: (
            c1[b],
            c2[b],
            abs(
                Fraction(c1[b], len(n1)) - Fraction(c2[b], len(n2))
            )
            > Fraction(threshold, 100),
        )
        for b in bins
    }
    s1 = spark.createDataFrame([(x,) for x in n1], "v string")
    s2 = spark.createDataFrame([(x,) for x in n2], "v string")
    got = {
        r["bin"]: (r["n1"], r["n2"], r["drifted"])
        for r in distribution_drift(
            s1, s2, F.col("v"), threshold_pct=threshold
        ).collect()
    }
    assert got == want
