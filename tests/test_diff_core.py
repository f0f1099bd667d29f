"""Core diff-operator tests: golden counts by construction, output schema,
summary aggregations, facade parity. Mirrors the reference's test strategy
(SURVEY.md §5: golden per-column counts over a hand-checkable fixture)."""

import pytest
from pyspark.sql import functions as F

from pyspark_datacol_diff_spark import (
    SchemaMismatchError,
    column_mismatch_counts,
    compute_dataframe_diff,
    diff,
    flag_counts,
    gen_comp_col,
    standardize,
)


def flag_map(diff_df):
    return {r["Flag"]: r["cnt"] for r in flag_counts(diff_df).collect()}


def col_map(diff_df):
    return {r["ColName"]: r["Count"] for r in column_mismatch_counts(diff_df).collect()}


def test_golden_counts(spark, employee_pair):
    s1, s2, exp = employee_pair
    d = diff(s1, s2, ["id"])
    flags = flag_map(d)
    assert flags.get("S1_ONLY", 0) == exp["s1_only"]
    assert flags.get("S2_ONLY", 0) == exp["s2_only"]
    n_diff_rows = flags.get("", 0)
    n_nodiff = flags.get("NODIFF", 0)
    assert n_diff_rows + n_nodiff == exp["matched"]

    cols = col_map(d)
    assert cols.get("first_name", 0) == exp["first_name"]
    assert cols.get("email", 0) == exp["email"]
    assert cols.get("country", 0) == exp["country"]
    assert "gender" not in cols  # zero-mismatch columns don't appear


def test_output_schema(spark, employee_pair):
    s1, s2, _ = employee_pair
    d = diff(s1, s2, ["id"])
    assert d.columns == ["id_s1", "id_s2", "CompColArr", "Flag"]
    arr_type = dict(d.dtypes)["CompColArr"]
    assert arr_type == "array<struct<col_name:string,s1_value:string,s2_value:string>>"


def test_unmatched_rows_have_empty_array(spark, employee_pair):
    s1, s2, _ = employee_pair
    d = diff(s1, s2, ["id"])
    bad = d.filter(
        F.col("Flag").isin("S1_ONLY", "S2_ONLY") & (F.size("CompColArr") > 0)
    ).count()
    assert bad == 0


def test_flag_semantics(spark, employee_pair):
    s1, s2, _ = employee_pair
    d = diff(s1, s2, ["id"])
    # S1_ONLY rows: s2 keys null; S2_ONLY: s1 keys null
    assert d.filter((F.col("Flag") == "S1_ONLY") & F.col("id_s2").isNotNull()).count() == 0
    assert d.filter((F.col("Flag") == "S2_ONLY") & F.col("id_s1").isNotNull()).count() == 0
    # NODIFF <=> matched and empty array
    assert (
        d.filter((F.col("Flag") == "NODIFF") & (F.size("CompColArr") > 0)).count() == 0
    )
    # '' rows have at least one mismatch entry
    assert d.filter((F.col("Flag") == "") & (F.size("CompColArr") == 0)).count() == 0


def test_mismatch_values_recorded(spark, employee_pair):
    s1, s2, _ = employee_pair
    d = diff(s1, s2, ["id"])
    row = (
        d.filter(F.array_contains(F.col("CompColArr.col_name"), "first_name"))
        .filter(F.col("id_s1") == "12")
        .select(F.explode("CompColArr").alias("e"))
        .filter(F.col("e.col_name") == "first_name")
        .collect()
    )
    assert len(row) == 1
    assert row[0]["e"]["s1_value"] == "name12"
    assert row[0]["e"]["s2_value"] == "NAME12"


def test_facade_returns_pandas_stats(spark, employee_pair):
    s1, s2, exp = employee_pair
    d, stats = compute_dataframe_diff(s1, s2, ["id"])
    assert list(stats.columns) == ["ColName", "Count"]
    assert stats.iloc[0]["ColName"] == "first_name"  # highest count first
    got = dict(zip(stats["ColName"], stats["Count"]))
    assert got["first_name"] == exp["first_name"]


def test_standardize_suffixes(spark, employee_pair):
    s1, s2, _ = employee_pair
    out = standardize(s1, s2)
    assert all(c.endswith("_s1") for c in out["s1"].columns)
    assert all(c.endswith("_s2") for c in out["s2"].columns)
    assert out["s1"].count() == s1.count()


def test_standardize_schema_mismatch_raises(spark, employee_pair):
    s1, _, _ = employee_pair
    other = spark.createDataFrame([("a", "b")], ["x", "y"])
    with pytest.raises(SchemaMismatchError) as ei:
        standardize(s1, other)
    assert ei.value.only_in_s1 and ei.value.only_in_s2


def test_gen_comp_col(spark, employee_pair):
    s1, _, _ = employee_pair
    k1, k2, comp = gen_comp_col(s1, ["id", "gender"])
    assert k1 == ["id_s1", "gender_s1"]
    assert k2 == ["id_s2", "gender_s2"]
    assert comp == ["first_name", "email", "country"]  # source column order


def test_compare_and_exclude_cols(spark, employee_pair):
    s1, s2, exp = employee_pair
    only_email = col_map(diff(s1, s2, ["id"], compare_cols=["email"]))
    assert set(only_email) == {"email"} and only_email["email"] == exp["email"]
    no_email = col_map(diff(s1, s2, ["id"], exclude_cols=["email"]))
    assert "email" not in no_email
    assert no_email["first_name"] == exp["first_name"]


def test_carry_unmatched_fills_only_rows(spark, employee_pair):
    from pyspark_datacol_diff_spark.operators.diff import diff
    import pyspark.sql.functions as F

    s1, s2, exp = employee_pair
    d = diff(s1, s2, ["id"], carry_unmatched=True)
    only = d.filter(F.col("Flag") == "S1_ONLY").select("CompColArr").first()[0]
    assert len(only) == 4  # every compare column carried
    assert all(e["s2_value"] is None and e["s1_value"] is not None for e in only)
    s2only = d.filter(F.col("Flag") == "S2_ONLY").select("CompColArr").first()[0]
    assert all(e["s1_value"] is None and e["s2_value"] is not None for e in s2only)
    # default stays reference-parity: empty arrays on unmatched rows
    d0 = diff(s1, s2, ["id"])
    assert d0.filter((F.col("Flag") == "S1_ONLY") & (F.size("CompColArr") > 0)).count() == 0


def test_apply_diff_round_trip(spark, employee_pair):
    from pyspark_datacol_diff_spark.operators.diff import apply_diff, diff
    import pyspark.sql.functions as F

    s1, s2, exp = employee_pair
    cols = ["first_name", "email", "gender", "country"]
    d = diff(s1, s2, ["id"], carry_unmatched=True)
    rebuilt = apply_diff(s1, d, ["id"], cols)
    want = s2.select(*[F.col(c).cast("string") for c in ["id"] + cols])
    assert rebuilt.count() == want.count()
    assert rebuilt.exceptAll(want).count() == 0
    assert want.exceptAll(rebuilt).count() == 0


def _apply_diff_two_branch(s1, diff_df, pk, compare_cols):
    """Reference: the former two-branch ``apply_diff`` — s1 inner-joined
    to the matched diff rows, unioned with the ``S2_ONLY`` rows projected
    out of the diff (which references the diff twice). A column with a
    patch entry takes its ``s2_value`` even when that is NULL."""

    def patch():
        return F.map_from_entries(
            F.transform(
                F.col("CompColArr"),
                lambda e: F.struct(
                    e["col_name"].alias("key"), e["s2_value"].alias("value")
                ),
            )
        )

    changed = diff_df.filter(F.col("Flag").isin("", "NODIFF")).select(
        *[F.col(k + "_s1").alias(k) for k in pk], patch().alias("__patch")
    )
    patched = s1.join(changed, list(pk), "inner").select(
        *[F.col(k).cast("string").alias(k) for k in pk],
        *[
            F.when(
                F.map_contains_key(F.col("__patch"), F.lit(c)),
                F.element_at(F.col("__patch"), F.lit(c)),
            )
            .otherwise(F.col(c).cast("string"))
            .alias(c)
            for c in compare_cols
        ],
    )
    inserted = diff_df.filter(F.col("Flag") == "S2_ONLY").select(
        *[F.col(k + "_s2").cast("string").alias(k) for k in pk],
        *[F.element_at(patch(), F.lit(c)).alias(c) for c in compare_cols],
    )
    return patched.unionByName(inserted)


_APPLY_SCHEMA = "k1 long, k2 string, v long, s string"
_APPLY_S1 = [
    (1, "a", 10, "x"),  # unchanged
    (1, "b", 20, "y"),  # both values changed to NULL in s2
    (2, "a", 30, "z"),  # s changed; duplicate key in s1 ...
    (2, "a", 31, "z2"),  # ... fans out through both joins
    (3, "a", 40, "q"),  # deleted
    (None, "a", 50, "n1"),  # NULL key part on the s1 side
    (4, None, 60, "n2"),
]
_APPLY_S2 = [
    (1, "a", 10, "x"),
    (1, "b", None, None),
    (2, "a", 30, "w"),
    (5, "a", 70, "new"),  # inserted, duplicate key in s2
    (5, "a", 71, "new2"),
    (None, "b", 80, "n3"),  # NULL key part on the s2 side
    (6, None, 90, None),
]


@pytest.mark.parametrize("case", ["mixed", "one_scan", "empty_s1", "empty_s2"])
def test_apply_diff_matches_two_branch_formulation(spark, case):
    from collections import Counter

    from pyspark_datacol_diff_spark.operators.diff import apply_diff

    pk, cols = ["k1", "k2"], ["v", "s"]
    if case == "one_scan":
        # s1 and s2 share one scan: the join back to s1 is a self-join
        base = spark.createDataFrame(_APPLY_S1 + _APPLY_S2[3:], _APPLY_SCHEMA)
        s1 = base.filter(F.col("k1") != 5)
        s2 = base.filter(F.col("k1") != 3).withColumn(
            "s", F.when(F.col("k1") == 2, F.lit("w")).otherwise(F.col("s"))
        )
    else:
        s1 = spark.createDataFrame(
            [] if case == "empty_s1" else _APPLY_S1, _APPLY_SCHEMA
        )
        s2 = spark.createDataFrame(
            [] if case == "empty_s2" else _APPLY_S2, _APPLY_SCHEMA
        )
    d = diff(s1, s2, pk, carry_unmatched=True)
    got = apply_diff(s1, d, pk, cols)
    want = _apply_diff_two_branch(s1, d, pk, cols)
    assert got.schema == want.schema
    rows = Counter(tuple(r) for r in got.collect())
    assert rows == Counter(tuple(r) for r in want.collect())
    if case == "empty_s2":
        assert not rows
    else:
        # inserts (key 5) always come through; NULL-key s2 rows never do
        assert rows[("5", "a", "70", "new")] == 1
        assert all(r[0] is not None and r[1] is not None for r in rows)
    if case == "mixed":
        # duplicate s1 key: 2 diff rows x 2 s1 rows, each patched by its
        # own diff row; values changed to NULL replay as NULL
        assert rows[("2", "a", "30", "w")] == 3
        assert rows[("2", "a", "31", "w")] == 1
        assert rows[("1", "b", None, None)] == 1
        assert sum(rows.values()) == 8


def test_table_digest_detects_any_single_change(spark):
    from pyspark_datacol_diff_spark.operators.diff import (
        digests_equal,
        table_digest,
    )

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30)], ["k", "s", "v"]
    )
    same_other_order = spark.createDataFrame(
        [(3, "c", 30), (1, "a", 10), (2, "b", None)], ["k", "s", "v"]
    ).repartition(5)
    changed = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "X", 30)], ["k", "s", "v"]
    )
    cols = ["k", "s", "v"]
    assert digests_equal(base, same_other_order, cols)  # order/partitioning-proof
    assert not digests_equal(base, changed, cols)
    d = {r["col_name"]: r for r in table_digest(base).collect()}
    assert d["v"]["n_nulls"] == 1 and d["v"]["n_values"] == 2
    dc = {r["col_name"]: r for r in table_digest(changed).collect()}
    # only the changed column's digest moves
    assert d["s"]["digest"] != dc["s"]["digest"]
    assert d["k"]["digest"] == dc["k"]["digest"]
    assert d["v"]["digest"] == dc["v"]["digest"]


def test_table_digest_single_scan_single_shuffle(spark):
    from pyspark_datacol_diff_spark import plans as P
    from pyspark_datacol_diff_spark.operators.diff import table_digest

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = table_digest(df, ["o_orderkey", "o_orderstatus"])
    assert len(P.read_schemas(out)) == 1
    P.assert_max_shuffles(out, 1)


def test_diff_summary_single_pass_matches_lazy_pair(spark, employee_pair):
    """The combined one-job summary must agree with the two lazy
    aggregates on both outputs (zero-count flags/columns omitted)."""
    from pyspark_datacol_diff_spark.operators.diff import (
        diff,
        diff_summary,
        resolve_compare_cols,
    )

    s1, s2, _ = employee_pair
    d = diff(s1, s2, ["id"])
    cols = resolve_compare_cols(s1, ["id"])
    f_lazy, c_lazy = diff_summary(d)
    f_one, c_one = diff_summary(d, cols)
    assert {(r["Flag"], r["cnt"]) for r in f_lazy.collect()} == {
        (r["Flag"], r["cnt"]) for r in f_one.collect()
    }
    assert [(r["ColName"], r["Count"]) for r in c_lazy.collect()] == [
        (r["ColName"], r["Count"]) for r in c_one.collect()
    ]


def test_diff_summary_stats_single_scan_no_explode(spark, employee_pair):
    """One explode-free global aggregate: no Generate node, a keys=[]
    aggregate, and exactly one scan of each diff input in the plan."""
    from pyspark_datacol_diff_spark import plans as P
    from pyspark_datacol_diff_spark.operators.diff import (
        diff,
        diff_summary_stats,
        resolve_compare_cols,
    )

    s1, s2, _ = employee_pair
    d = diff(s1, s2, ["id"])
    stats = diff_summary_stats(d, resolve_compare_cols(s1, ["id"]))
    plan = P.physical_plan(stats)
    assert "Generate" not in plan  # no explode
    assert "keys=[]" in plan  # single global aggregate
    # the whole summary is ONE job over ONE pass of the diff: each
    # input relation is scanned exactly once in this plan
    assert plan.count("Scan ExistingRDD") + plan.count("LocalTableScan") <= 2


def test_compute_dataframe_diff_stats_order_and_values(spark, employee_pair):
    """Facade stats (now from the single-pass aggregate) keep the
    reference contract: ColName/Count, descending count, no zeros."""
    from pyspark_datacol_diff_spark import compute_dataframe_diff

    s1, s2, expected = employee_pair
    _, stats = compute_dataframe_diff(s1, s2, ["id"])
    got = dict(zip(stats["ColName"], stats["Count"]))
    want = {
        k: v
        for k, v in expected.items()
        if k in ("first_name", "email", "country") and v > 0
    }
    assert got == want
    assert list(stats["Count"]) == sorted(stats["Count"], reverse=True)


def test_change_intervals_hand_computed(spark):
    from pyspark_datacol_diff_spark.operators.diff import change_intervals

    rows = [
        (1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "a"),
        (2, 1, None), (2, 2, None), (2, 3, "x"),
    ]
    df = spark.createDataFrame(rows, "k long, t long, s string")
    got = sorted(
        (
            (r["k"], r["s"], r["valid_from"], r["valid_to"], r["n_obs"])
            for r in change_intervals(df, ["k"], "t", ["s"]).collect()
        ),
        key=lambda t: (t[0], t[1] is not None, t[1] or "", t[2]),
    )
    assert got == [
        (1, "a", 1, 3, 2),     # run a a
        (1, "a", 4, None, 1),  # a returns: NEW interval, not merged
        (1, "b", 3, 4, 1),
        (2, None, 1, 3, 2),    # null state merges with itself
        (2, "x", 3, None, 1),
    ]


def test_change_intervals_single_exchange(spark):
    from pyspark_datacol_diff_spark import plans as P
    from pyspark_datacol_diff_spark.operators.diff import change_intervals

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    )
    out = change_intervals(
        e, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )
    # change-flag window, island window, island agg and lead window all
    # reuse HashPartitioning(user_id): exactly ONE exchange, no join
    P.assert_max_shuffles(out, 1)
    assert "Join" not in P.physical_plan(out)


def test_profile_table_hand_computed(spark):
    from pyspark_datacol_diff_spark import profile_table

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None), (None, 2)],
        "s string, x int",
    )
    got = {r["col_name"]: r for r in profile_table(df).collect()}
    s, x = got["s"], got["x"]
    assert (s["n_values"], s["n_nulls"], s["n_distinct"]) == (3, 1, 2)
    assert (s["min_str"], s["max_str"]) == ("a", "b")
    assert (x["n_values"], x["n_nulls"], x["n_distinct"]) == (3, 1, 2)
    assert (x["min_str"], x["max_str"]) == ("1", "2")


def test_change_intervals_tile_the_timeline(spark):
    """Invariants on real data: per key, interval n_obs sums to the row
    count, valid_to chains to the next valid_from (gapless tiling),
    exactly one open interval per key, and no two consecutive intervals
    share a state."""
    from pyspark_datacol_diff_spark.operators.diff import change_intervals

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    )
    iv = change_intervals(
        e, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    ).cache()
    try:
        assert iv.agg(F.sum("n_obs")).first()[0] == e.count()
        assert (
            iv.filter(F.col("valid_to").isNull())
            .groupBy("user_id").count().filter("count != 1").count() == 0
        )
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("valid_from")
        chained = iv.select(
            "user_id", "event_type", "valid_from", "valid_to",
            F.lead("valid_from").over(w).alias("nxt_from"),
            F.lead("event_type").over(w).alias("nxt_state"),
        )
        # valid_to == next interval's valid_from (both null at the tail)
        assert chained.filter(
            ~F.col("valid_to").eqNullSafe(F.col("nxt_from"))
        ).count() == 0
        # consecutive intervals never share a state (else they'd merge)
        assert chained.filter(
            F.col("nxt_state").isNotNull()
            & F.col("event_type").eqNullSafe(F.col("nxt_state"))
        ).count() == 0
    finally:
        iv.unpersist()


def test_merge_upsert_semantics(spark):
    from pyspark_datacol_diff_spark.operators.diff import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B", False), (3, "x", True), (4, "d", False)],
        "k long, v string, del boolean",
    )
    got = {
        (r["k"], r["v"])
        for r in merge_upsert(base, updates, ["k"], delete_col="del").collect()
    }
    # 1 untouched, 2 updated, 3 deleted, 4 inserted
    assert got == {(1, "a"), (2, "B"), (4, "d")}
    # without delete_col the delete flag is just ignored data
    got2 = {
        (r["k"], r["v"])
        for r in merge_upsert(
            base, updates.drop("del"), ["k"]
        ).collect()
    }
    assert got2 == {(1, "a"), (2, "B"), (3, "x"), (4, "d")}


def test_merge_upsert_broadcast_keys_no_base_shuffle(spark):
    from pyspark_datacol_diff_spark import plans as P
    from pyspark_datacol_diff_spark.operators.diff import merge_upsert

    from pyspark.sql import functions as F

    base = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    updates = base.filter(F.col("o_orderkey") % 97 == 0)
    out = merge_upsert(
        base, updates, ["o_orderkey"], broadcast_updates=True
    )
    plan = P.physical_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    P.assert_max_shuffles(out, 0)  # neither side shuffles


def test_change_intervals_tied_timestamp_islands_deterministic(spark):
    """Two state changes at one timestamp: valid_to chaining must follow
    island (stream) order, not an ambiguous valid_from-only sort."""
    from pyspark_datacol_diff_spark.operators.diff import change_intervals

    rows = [(1, 5, 1, "a"), (1, 5, 2, "b"), (1, 5, 3, "c"), (1, 9, 4, "c")]
    df = spark.createDataFrame(rows, "k long, t long, seq long, s string")
    got = {
        (r["s"], r["valid_from"], r["valid_to"], r["n_obs"])
        for r in change_intervals(
            df, ["k"], "t", ["s"], tiebreak=["seq"]
        ).collect()
    }
    assert got == {
        ("a", 5, 5, 1),
        ("b", 5, 5, 1),
        ("c", 5, None, 2),
    }


def test_profile_table_empty_input_names_every_column(spark):
    """Empty input: one row per column with count 0 / NULL bounds —
    global-aggregate semantics, matching the SQL oracle's shape."""
    from pyspark_datacol_diff_spark import profile_table

    df = spark.createDataFrame([], "s string, x int").filter("1=0")
    rows = {r["col_name"]: r for r in profile_table(df).collect()}
    assert set(rows) == {"s", "x"}
    for r in rows.values():
        assert r["n_values"] == 0 and r["n_distinct"] == 0
        assert r["min_str"] is None and r["max_str"] is None


def test_distribution_drift_flags_moved_bins_and_zero_fills(spark):
    from pyspark_datacol_diff_spark import distribution_drift

    s1 = spark.createDataFrame(
        [("a",)] * 80 + [("b",)] * 20, "bin_src string"
    )
    s2 = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 30, "bin_src string"
    )
    rows = {
        r["bin"]: r
        for r in distribution_drift(
            s1, s2, F.col("bin_src"), threshold_pct=5
        ).collect()
    }
    # a: 80% -> 50% (moved 30pp), c: 0% -> 30% (absent bin zero-filled)
    assert rows["a"]["drifted"] and (rows["a"]["n1"], rows["a"]["n2"]) == (80, 50)
    assert rows["c"]["drifted"] and rows["c"]["n1"] == 0
    # b: 20% -> 20%, unchanged
    assert not rows["b"]["drifted"]


def test_distribution_drift_threshold_is_exact_and_exclusive(spark):
    from pyspark_datacol_diff_spark import distribution_drift

    # b moves exactly 5 percentage points (5% -> 10%); the integer
    # cross-multiplied comparison is strict, so exactly-at-threshold
    # must NOT flag — no float boundary wobble either way
    s1 = spark.createDataFrame([("a",)] * 95 + [("b",)] * 5, "v string")
    s2 = spark.createDataFrame([("a",)] * 90 + [("b",)] * 10, "v string")
    rows = {
        r["bin"]: r["drifted"]
        for r in distribution_drift(s1, s2, F.col("v"), threshold_pct=5).collect()
    }
    assert rows == {"a": False, "b": False}
    # one row more and it crosses
    s2b = spark.createDataFrame([("a",)] * 89 + [("b",)] * 11, "v string")
    rows = {
        r["bin"]: r["drifted"]
        for r in distribution_drift(s1, s2b, F.col("v"), threshold_pct=5).collect()
    }
    assert rows["b"] is True


def test_distribution_drift_empty_side_flags_new_distribution(spark):
    from pyspark_datacol_diff_spark import distribution_drift

    empty = spark.createDataFrame([], "v string")
    s2 = spark.createDataFrame([("a",)] * 90 + [("b",)] * 3, "v string")
    rows = {
        r["bin"]: r["drifted"]
        for r in distribution_drift(
            empty, s2, F.col("v"), threshold_pct=5
        ).collect()
    }
    # vs the all-zero distribution: a (97%) far exceeds 5pp, b (3%) not
    assert rows == {"a": True, "b": False}
    # symmetric, and both-empty yields no rows at all
    rows = {
        r["bin"]: r["drifted"]
        for r in distribution_drift(
            s2, empty, F.col("v"), threshold_pct=5
        ).collect()
    }
    assert rows == {"a": True, "b": False}
    assert distribution_drift(empty, empty, F.col("v")).count() == 0


def test_distribution_drift_null_bin_is_one_bucket(spark):
    from pyspark_datacol_diff_spark import distribution_drift

    # identical distributions with 50% NULL bins -> one matched null
    # bucket, zero drift (a non-null-safe join would split it into two
    # all-drifted rows)
    s = spark.createDataFrame([("a",)] * 5 + [(None,)] * 5, "v string")
    rows = distribution_drift(s, s, F.col("v"), threshold_pct=5).collect()
    assert len(rows) == 2
    assert all(not r["drifted"] and r["n1"] == r["n2"] == 5 for r in rows)


class TestDigestTree:
    """Merkle-style diff localization (round-4 north-star addition)."""

    def _tree(self, spark, rows):
        df = spark.createDataFrame(rows, "pk long, v string")
        from pyspark_datacol_diff_spark import digest_tree

        return digest_tree(df, ["pk"], ["v"], fanout=4, levels=2)

    def test_root_counts_and_parent_child_consistency(self, spark):
        rows = [(i, f"v{i}") for i in range(40)]
        t = {(r["level"], r["node"]): r for r in self._tree(spark, rows).collect()}
        root = t[(0, 0)]
        assert root["n_rows"] == 40
        # every parent equals the modular sum of its children
        for (lv, node), r in t.items():
            if lv == 2:
                continue
            kids = [
                c for (clv, cn), c in t.items()
                if clv == lv + 1 and cn // 4 == node
            ]
            assert r["n_rows"] == sum(c["n_rows"] for c in kids)
            assert r["digest"] == sum(c["digest"] for c in kids) % 10**18

    def test_single_value_edit_flags_exactly_one_root_leaf_path(self, spark):
        from pyspark_datacol_diff_spark import digest_tree_diff

        rows = [(i, f"v{i}") for i in range(40)]
        edited = [(i, "CHANGED" if i == 17 else f"v{i}") for i in range(40)]
        a = spark.createDataFrame(rows, "pk long, v string")
        b = spark.createDataFrame(edited, "pk long, v string")
        d = digest_tree_diff(a, b, ["pk"], ["v"], fanout=4, levels=2)
        bad = sorted(
            (r["level"], r["node"]) for r in d.collect() if r["differs"]
        )
        # exactly one root->leaf path: levels 0, 1, 2 with consistent
        # ancestry, and counts agree everywhere (pure value edit)
        assert len(bad) == 3
        assert [lv for lv, _ in bad] == [0, 1, 2]
        (l0, n0), (l1, n1), (l2, n2) = bad
        assert n0 == 0 and n1 == n2 // 4 and n0 == n1 // 4
        assert all(r["n1"] == r["n2"] for r in d.collect())

    def test_row_insertion_flags_count_and_digest(self, spark):
        from pyspark_datacol_diff_spark import digest_tree_diff

        rows = [(i, f"v{i}") for i in range(10)]
        a = spark.createDataFrame(rows, "pk long, v string")
        b = spark.createDataFrame(rows + [(99, "new")], "pk long, v string")
        d = digest_tree_diff(a, b, ["pk"], ["v"], fanout=4, levels=2)
        root = [r for r in d.collect() if r["level"] == 0][0]
        assert root["differs"] and root["n1"] == 10 and root["n2"] == 11

    def test_identical_tables_differ_nowhere(self, spark):
        from pyspark_datacol_diff_spark import digest_tree_diff

        rows = [(i, None if i % 3 == 0 else f"v{i}") for i in range(30)]
        a = spark.createDataFrame(rows, "pk long, v string")
        b = spark.createDataFrame(list(rows), "pk long, v string")
        d = digest_tree_diff(a, b, ["pk"], ["v"], fanout=4, levels=2)
        assert not any(r["differs"] for r in d.collect())

    def test_null_vs_empty_string_distinct(self, spark):
        """The sentinel canonicalization must keep (NULL) and ('')
        apart — concat_ws alone would collapse them."""
        from pyspark_datacol_diff_spark import digest_tree_diff

        a = spark.createDataFrame([(1, None)], "pk long, v string")
        b = spark.createDataFrame([(1, "")], "pk long, v string")
        d = digest_tree_diff(a, b, ["pk"], ["v"], fanout=4, levels=1)
        root = [r for r in d.collect() if r["level"] == 0][0]
        assert root["differs"]

    def test_validation_errors(self, spark):
        import pytest

        from pyspark_datacol_diff_spark import digest_tree
        from pyspark_datacol_diff_spark.errors import (
            InvalidArgumentError,
            PrimaryKeyError,
        )

        df = spark.createDataFrame([(1, "a")], "pk long, v string")
        with pytest.raises(InvalidArgumentError):
            digest_tree(df, ["pk"], fanout=1)
        with pytest.raises(InvalidArgumentError):
            digest_tree(df, ["pk"], levels=0)
        with pytest.raises(InvalidArgumentError):
            digest_tree(df, ["pk"], fanout=64, levels=5)
        with pytest.raises(PrimaryKeyError):
            digest_tree(df, [])

    def test_no_cache_leak(self, spark):
        from pyspark_datacol_diff_spark import digest_tree

        df = spark.createDataFrame([(i, "x") for i in range(5)], "pk long, v string")
        digest_tree(df, ["pk"], ["v"]).collect()
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert not any(
            "In-memory table" in (i.name() or "") for i in infos
        )


class TestScopedDiff:
    def _pair(self, spark):
        from pyspark.sql import functions as F

        base = spark.createDataFrame(
            [(i, f"v{i}", i * 10) for i in range(500)],
            "pk long, s string, n long",
        )
        s1 = base.filter(F.col("pk") % 71 != 0)
        s2 = base.filter(F.col("pk") % 67 != 0).withColumn(
            "s",
            F.when(F.col("pk") % 39 == 0, F.lit("EDITED")).otherwise(
                F.col("s")
            ),
        )
        return s1, s2

    def test_scoped_equals_full_diff_on_differences(self, spark):
        """Every difference row of the full diff survives the scoping
        (the equivalence contract); NODIFF confirmations from clean
        buckets are exactly what the scoping elides."""
        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.diff import diff, scoped_diff

        s1, s2 = self._pair(spark)
        stats = {}
        scoped = scoped_diff(s1, s2, ["pk"], stats=stats)
        full = diff(s1, s2, ["pk"])

        def key(df):
            return sorted(
                (
                    repr(r["pk_s1"]),
                    repr(r["pk_s2"]),
                    r["Flag"],
                    tuple(map(tuple, r["CompColArr"])),
                )
                for r in df.filter(F.col("Flag") != "NODIFF").collect()
            )

        assert key(scoped) == key(full)
        # and the scoping actually scoped: clean buckets' NODIFF rows
        # are verified by digest, never materialized
        assert 0 < stats["dirty_buckets"] < stats["total_buckets"]
        n_scoped = scoped.filter(F.col("Flag") == "NODIFF").count()
        n_full = full.filter(F.col("Flag") == "NODIFF").count()
        assert n_scoped < n_full

    def test_identical_snapshots_skip_the_row_join(self, spark):
        from pyspark_datacol_diff_spark.operators.diff import scoped_diff

        s1, _ = self._pair(spark)
        stats = {}
        out = scoped_diff(s1, s1, ["pk"], stats=stats)
        assert stats["dirty_buckets"] == 0
        assert out.count() == 0

    def test_majority_dirty_bypasses_the_scoping(self, spark):
        """Every bucket dirty (tiny tree, edits everywhere): scoped_diff
        must fall back to the plain full diff — identical row set
        including NODIFF confirmations."""
        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.diff import diff, scoped_diff

        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(200)], "pk long, s string"
        )
        s2 = base.withColumn(
            "s", F.when(F.col("pk") % 2 == 0, F.lit("E")).otherwise(F.col("s"))
        )
        stats = {}
        scoped = scoped_diff(
            base, s2, ["pk"], fanout=2, levels=2, stats=stats
        )
        assert stats["dirty_buckets"] == stats["total_buckets"] == 4
        full = diff(base, s2, ["pk"])
        k = lambda df: sorted(
            (r["pk_s1"], r["Flag"], tuple(map(tuple, r["CompColArr"])))
            for r in df.collect()
        )
        assert k(scoped) == k(full)

    def test_past_isin_cap_falls_back_to_semi_join(self, spark, monkeypatch):
        """Minority-dirty but past the isin cap: the broadcast-semi
        path must produce the same scoped result as the literal path."""
        from pyspark_datacol_diff_spark.operators import diff as D

        s1, s2 = self._pair(spark)
        lit = D.scoped_diff(s1, s2, ["pk"]).collect()
        monkeypatch.setattr(D, "_SCOPED_ISIN_CAP", 0)
        semi = D.scoped_diff(s1, s2, ["pk"]).collect()
        k = lambda rows: sorted(
            (repr(r["pk_s1"]), repr(r["pk_s2"]), r["Flag"],
             tuple(map(tuple, r["CompColArr"])))
            for r in rows
        )
        assert k(semi) == k(lit)


class TestScopedDiffAdviceFixes:
    """Round-5 advice regressions: reserved-name guard and value_cols
    scoping."""

    def test_reserved_bucket_column_raises_up_front(self, spark):
        from pyspark_datacol_diff_spark.operators.diff import scoped_diff

        df = spark.createDataFrame(
            [(1, "a", 0)], "pk long, s string, __bucket long"
        )
        with pytest.raises(ValueError, match="__bucket"):
            scoped_diff(df, df, ["pk"])

    def test_value_cols_scopes_the_row_diff(self, spark):
        """A narrower value_cols restricts BOTH digests and the row
        diff to the covered columns: differences in uncovered columns
        are excluded by contract (not silently half-compared), and
        covered-column differences are all reported."""
        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.diff import (
            diff,
            scoped_diff,
        )

        base = spark.createDataFrame(
            [(i, f"a{i}", f"b{i}") for i in range(400)],
            "pk long, cov string, uncov string",
        )
        s2 = base.withColumn(
            "cov",
            F.when(F.col("pk") % 39 == 0, F.lit("E")).otherwise(
                F.col("cov")
            ),
        ).withColumn(
            "uncov",
            F.when(F.col("pk") % 7 == 0, F.lit("U")).otherwise(
                F.col("uncov")
            ),
        )
        scoped = scoped_diff(base, s2, ["pk"], value_cols=["cov"])
        full_cov = diff(
            base.select("pk", "cov"), s2.select("pk", "cov"), ["pk"]
        )
        k = lambda df: sorted(
            (r["pk_s1"], r["Flag"], tuple(map(tuple, r["CompColArr"])))
            for r in df.filter(F.col("Flag") != "NODIFF").collect()
        )
        assert k(scoped) == k(full_cov)
        # no uncovered-column leakage in any reported mismatch
        cols = {
            c["col_name"]
            for r in scoped.collect()
            for c in r["CompColArr"]
        }
        assert cols <= {"cov"}


class TestSchemaDiff:
    """Round-6: structural schema diff report."""

    def test_report_covers_all_three_statuses(self, spark):
        from pyspark_datacol_diff_spark.operators.diff import schema_diff

        s1 = spark.createDataFrame(
            [], "a long, b string, C double, nested struct<x:int,y:string>"
        )
        s2 = spark.createDataFrame(
            [], "a long, b int, d string, nested struct<x:int,y:long>"
        )
        got = {
            r["column"]: (r["status"], r["type_s1"], r["type_s2"])
            for r in schema_diff(s1, s2).collect()
        }
        assert got == {
            "b": ("type_changed", "string", "int"),
            "C": ("only_in_s1", "double", None),
            "d": ("only_in_s2", None, "string"),
            "nested": (
                "type_changed",
                "struct<x:int,y:string>",
                "struct<x:int,y:bigint>",
            ),
        }

    def test_case_insensitive_match_and_empty_on_agreement(self, spark):
        from pyspark_datacol_diff_spark.operators.diff import schema_diff

        s1 = spark.createDataFrame([], "Col long, other string")
        s2 = spark.createDataFrame([], "col long, OTHER string")
        assert schema_diff(s1, s2).count() == 0
