"""Round-10 hardening: the four ADVICE r09 regressions (local-clustering
self-loops, join_skew_probe checked cast, top_share empty contract,
_resolve_nlist bool), plus the round-10 operator/lint additions pinned
as they land."""

import pytest
from pyspark.sql import functions as F

from pyspark_datacol_diff_spark.operators.cluster import local_clustering
from pyspark_datacol_diff_spark.operators.histogram import top_share
from pyspark_datacol_diff_spark.operators.similarity import _resolve_nlist
from pyspark_datacol_diff_spark.operators.skew import join_skew_probe


class TestLocalClusteringSelfLoops:
    """ADVICE r09 #1: a self-loop edge must not inflate a node's degree —
    triangle_counts already drops loops via _canonical, so local_clustering
    must use the same edge set or degree and lcc_ppm diverge."""

    def _triangle_edges(self, spark, with_loop: bool):
        rows = [(1, 2), (2, 3), (1, 3), (3, 4)]
        if with_loop:
            rows.append((3, 3))
        return spark.createDataFrame(rows, ["id_a", "id_b"])

    def test_self_loop_does_not_change_degree_or_lcc(self, spark):
        clean = {
            r["node"]: (r["degree"], r["lcc_ppm"])
            for r in local_clustering(
                self._triangle_edges(spark, False)
            ).collect()
        }
        loopy = {
            r["node"]: (r["degree"], r["lcc_ppm"])
            for r in local_clustering(
                self._triangle_edges(spark, True)
            ).collect()
        }
        assert clean == loopy
        # node 3: degree 3 (neighbors 1,2,4), one closed triangle out of
        # 3 wedges -> 2*1/(3*2) = 1/3
        assert loopy[3] == (3, 333_333)


class TestJoinSkewProbeCheckedCast:
    """ADVICE r09 #2: the DECIMAL->BIGINT emit must raise loudly on
    overflow (the top-k survivors are the LARGEST products), matching
    the DuckDB oracle's raising BIGINT multiply, never a silent NULL."""

    def test_normal_products_unchanged(self, spark):
        left = spark.range(10).select((F.col("id") % 3).alias("k"))
        right = spark.range(6).select((F.col("id") % 3).alias("k"))
        rows = {
            r["k"]: r["pairs_out"]
            for r in join_skew_probe(left, right, ["k"]).collect()
        }
        assert rows == {0: 8, 1: 6, 2: 6}

    def test_overflow_raises_not_null(self, spark):
        # Two sides of 3_037_000_500 rows (isqrt(2^63)+1 each, product
        # just over int64 max) are not materializable in a unit test, so
        # pin the exact cast expression the probe emits at the unit
        # level: checked_long over the DECIMAL(38,0) product.
        from pyspark_datacol_diff_spark.operators import checked_long

        n = 3_037_000_500
        df = spark.createDataFrame([(n, n)], ["a", "b"]).select(
            checked_long(
                F.expr("CAST(CAST(a AS DECIMAL(38,0)) * b AS DECIMAL(38,0))"),
                context="join_skew_probe pairs_out",
            ).alias("p")
        )
        with pytest.raises(Exception, match="overflows BIGINT"):
            df.collect()

    def test_probe_plan_carries_the_checked_cast(self, spark):
        left = spark.range(4).select((F.col("id") % 2).alias("k"))
        right = spark.range(4).select((F.col("id") % 2).alias("k"))
        plan = join_skew_probe(left, right, ["k"])._jdf.queryExecution(
        ).analyzed().toString()
        assert "raise_error" in plan


class TestTopShareEmptyInput:
    """ADVICE r09 #3: empty input returns an all-zero row, not NULLs."""

    def test_empty_input_all_zero(self, spark):
        df = spark.range(0).select(F.col("id").alias("k"))
        row = top_share(df, ["k"], top_k=5).collect()[0]
        assert (
            row["n_keys"],
            row["n_rows"],
            row["top_k"],
            row["top_rows"],
            row["share_ppm"],
        ) == (0, 0, 0, 0, 0)

    def test_nonempty_values_unchanged(self, spark):
        df = spark.createDataFrame(
            [(k,) for k in [1, 1, 1, 2, 2, 3]], ["k"]
        )
        row = top_share(df, ["k"], top_k=1).collect()[0]
        assert (row["n_rows"], row["top_rows"], row["share_ppm"]) == (
            6,
            3,
            500_000,
        )


class TestResolveNlistBool:
    """ADVICE r09 #4: bool is not a valid nlist (bool subclasses int)."""

    @pytest.mark.parametrize("bad", [True, False])
    def test_bool_rejected(self, spark, bad):
        df = spark.range(1)
        with pytest.raises(ValueError, match="nlist must be"):
            _resolve_nlist(bad, df)

    def test_int_and_auto_still_work(self, spark):
        df = spark.range(400).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0)).alias("embedding"),
        )
        assert _resolve_nlist(7, df) == 7
        assert _resolve_nlist("auto", df) == 20  # isqrt(400)


class TestDiffSkewProbeWiring:
    """VERDICT r09 #7: diff(..., skew_probe=True) runs the key-grain
    probe before the full-outer join and names the planted hot key —
    the pre-flight for the one join shape AQE cannot skew-split."""

    def _skewed_pair(self, spark):
        # the diff_orders_skewed construction at unit scale: s2's key
        # collapses to the hot value -1 on 20% of rows
        from pyspark.sql import functions as F

        o = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        s1 = o.filter(F.col("k") % 101 != 0)
        s2 = o.withColumn(
            "k", F.when(F.col("k") % 5 == 0, F.lit(-1)).otherwise(F.col("k"))
        )
        return s1, s2

    def test_probe_names_the_hot_key_in_logs(self, spark, caplog):
        import logging

        from pyspark_datacol_diff_spark.operators.diff import diff

        s1, s2 = self._skewed_pair(spark)
        with caplog.at_level(
            logging.WARNING, logger="pyspark_datacol_diff_spark.diff"
        ):
            diff(s1, s2, ["k"], skew_probe=True, skew_probe_top=3)
        probe_lines = [
            r.getMessage() for r in caplog.records
            if "diff skew probe" in r.getMessage()
        ]
        assert len(probe_lines) == 3
        # the hot key is the heaviest by pair product -> first row
        assert "key=(-1,)" in probe_lines[0]
        assert "n_s2=40" in probe_lines[0]

    def test_probe_off_by_default_no_action(self, spark, caplog):
        import logging

        from pyspark_datacol_diff_spark.operators.diff import diff

        s1, s2 = self._skewed_pair(spark)
        with caplog.at_level(
            logging.WARNING, logger="pyspark_datacol_diff_spark.diff"
        ):
            diff(s1, s2, ["k"])  # lazy: no probe, no job
        assert not [
            r for r in caplog.records
            if "diff skew probe" in r.getMessage()
        ]


class TestFunnelWindowedNStages:
    """VERDICT r09 #8: funnel_windowed generalized from exactly-3 to
    n >= 2 stages — same single entity-keyed sort at every depth."""

    def _events(self, spark):
        import datetime as dt

        b = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = [
            # u1 completes a 4-stage funnel, each hop 10 min apart
            (1, b, 1, "a"),
            (2, b + dt.timedelta(minutes=10), 1, "b"),
            (3, b + dt.timedelta(minutes=20), 1, "c"),
            (4, b + dt.timedelta(minutes=30), 1, "d"),
            # u2 stalls after b (c arrives past the 30-min window)
            (5, b, 2, "a"),
            (6, b + dt.timedelta(minutes=10), 2, "b"),
            (7, b + dt.timedelta(minutes=50), 2, "c"),
            # u3: stage-2 EXACTLY at the window bound (inclusive <=)
            (8, b, 3, "a"),
            (9, b + dt.timedelta(minutes=30), 3, "b"),
        ]
        return spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type"]
        )

    def test_four_stage_funnel(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            funnel_windowed,
        )

        row = funnel_windowed(
            self._events(spark),
            ["user_id"],
            "ts",
            "event_type",
            ["a", "b", "c", "d"],
            within_seconds=1800,
            tiebreak_cols=["event_id"],
        ).collect()[0]
        assert (
            row["n_stage1"],
            row["n_stage2"],
            row["n_stage3"],
            row["n_stage4"],
        ) == (3, 3, 1, 1)

    def test_two_stage_and_bad_args(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            funnel_windowed,
        )

        row = funnel_windowed(
            self._events(spark),
            ["user_id"],
            "ts",
            "event_type",
            ["a", "b"],
            within_seconds=1800,
            tiebreak_cols=["event_id"],
        ).collect()[0]
        assert (row["n_stage1"], row["n_stage2"]) == (3, 3)
        with pytest.raises(ValueError, match=">= 2 stages"):
            funnel_windowed(
                self._events(spark), ["user_id"], "ts", "event_type",
                ["a"], within_seconds=60,
            )
        with pytest.raises(ValueError, match="distinct"):
            funnel_windowed(
                self._events(spark), ["user_id"], "ts", "event_type",
                ["a", "a"], within_seconds=60,
            )


class TestWinnowSharedPairsUnboundedWarning:
    """ADVICE r10 fresh-lens: max_df=None stays callable but is LOUD."""

    def test_warns_when_unbounded(self, spark, caplog):
        import logging

        from pyspark_datacol_diff_spark.operators.dedup import (
            winnow_shared_pairs,
        )

        d = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
        )
        with caplog.at_level(
            logging.WARNING, logger="pyspark_datacol_diff_spark.dedup"
        ):
            winnow_shared_pairs(d, "doc_id", "text")
        assert any("max_df=None" in r.getMessage() for r in caplog.records)


class TestNoAliasInlinePruning:
    """ADVICE r10 fresh-lens (VERDICT r09 #8): a consumer that drops the
    fenced column must NOT pay for it — column pruning removes the
    nondeterministic projection when nothing references it."""

    def test_fenced_column_pruned_when_unused(self, spark):
        from pyspark_datacol_diff_spark.operators.text import (
            winnow_fingerprints,
        )

        d = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
        pruned = winnow_fingerprints(d, "text", k=3, w=2).select("doc_id")
        plan = pruned._jdf.queryExecution().optimizedPlan().toString()
        assert "md5(" not in plan


class TestRound10Operators:
    """Unit pins for the round-10 operator additions (their driver
    evidence is the oracle registry; these pin edge semantics)."""

    def test_hapax_census(self, spark):
        from pyspark_datacol_diff_spark.operators.corpus import hapax_census

        d = spark.createDataFrame(
            [("s1", "a a b c"), ("s1", "c d"), ("s2", "")],
            ["source", "text"],
        )
        rows = {r["source"]: r for r in hapax_census(d, ["source"]).collect()}
        # s1: tokens a a b c c d -> types a,b,c,d; hapax b,d
        assert (
            rows["s1"]["n_tokens"],
            rows["s1"]["n_types"],
            rows["s1"]["n_hapax"],
            rows["s1"]["hapax_share_ppm"],
        ) == (6, 4, 2, 500_000)
        assert "s2" not in rows  # empty text -> no tokens -> no row

    def test_golden_record_election_and_ties(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import golden_record

        d = spark.createDataFrame(
            [
                # cluster 1: lang mode 'en' (2 vs 1); source tie
                # ('a' vs 'b' 1-1) -> smallest value wins
                (1, 10, "en", "b"),
                (1, 11, "en", "a"),
                (1, 12, "fr", None),
                # singleton cluster: dropped by min_members
                (2, 20, "de", "c"),
            ],
            ["comp", "doc_id", "lang", "source"],
        )
        out = golden_record(d, "comp", "doc_id", ["lang", "source"]).collect()
        assert len(out) == 1
        r = out[0]
        assert (
            r["comp"],
            r["n_members"],
            r["rep_doc_id"],
            r["lang"],
            r["source"],
        ) == (1, 3, 10, "en", "a")

    def test_golden_record_all_null_field(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import golden_record

        d = spark.createDataFrame(
            [(1, 1, None), (1, 2, None)],
            "comp long, doc_id long, lang string",
        )
        r = golden_record(d, "comp", "doc_id", ["lang"]).collect()[0]
        assert r["lang"] is None

    def test_golden_record_rejects_cluster_col_in_fields(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import golden_record

        d = spark.createDataFrame(
            [(1, 1, "en"), (1, 2, "en")],
            "comp long, doc_id long, lang string",
        )
        with pytest.raises(ValueError, match="cluster column 'comp'"):
            golden_record(d, "comp", "doc_id", ["lang", "comp"])
        # the id column stays electable (string space, ties to smallest)
        r = golden_record(d, "comp", "doc_id", ["lang", "doc_id"]).collect()[0]
        assert (r["lang"], r["doc_id"], r["rep_doc_id"]) == ("en", "1", 1)

    def test_blocking_volume(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import (
            blocking_volume,
        )

        post = spark.createDataFrame(
            [("b1", 1), ("b1", 2), ("b1", 3), ("b2", 4), ("b2", 5), ("b3", 6)],
            ["blk", "id"],
        )
        rows = {
            r["block_size"]: (r["n_blocks"], r["pairs"])
            for r in blocking_volume(post, ["blk"]).collect()
        }
        assert rows == {3: (1, 3), 2: (1, 1), 1: (1, 0)}

    def test_collapse_consecutive_runs_and_nulls(self, spark):
        import datetime as dt

        from pyspark_datacol_diff_spark.operators.range_join import (
            collapse_consecutive,
        )

        b = dt.datetime(2024, 1, 1)
        rows = [
            (1, b, 1, "a"),
            (2, b + dt.timedelta(seconds=1), 1, "a"),   # run -> dropped
            (3, b + dt.timedelta(seconds=2), 1, "b"),
            (4, b + dt.timedelta(seconds=3), 1, "a"),   # re-occurs: kept
            (5, b + dt.timedelta(seconds=4), 1, None),  # null starts a run
            (6, b + dt.timedelta(seconds=5), 1, None),  # null run -> dropped
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type"]
        )
        kept = collapse_consecutive(
            df, ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"]
        ).collect()
        assert sorted(r["event_id"] for r in kept) == [1, 3, 4, 5]

    def test_spearman_perfect_and_reversed(self, spark):
        from pyspark_datacol_diff_spark.operators.quality import spearman_ppm

        rows = [("g", i, i, i) for i in range(10)]
        df = spark.createDataFrame(rows, ["g", "x", "y", "eid"])
        r = spearman_ppm(
            df, ["g"], "x", "y", tiebreak_cols=["eid"]
        ).collect()[0]
        assert r["rho_ppm"] == 1_000_000
        rev = spark.createDataFrame(
            [("g", i, 9 - i, i) for i in range(10)], ["g", "x", "y", "eid"]
        )
        r2 = spearman_ppm(
            rev, ["g"], "x", "y", tiebreak_cols=["eid"]
        ).collect()[0]
        assert r2["rho_ppm"] == -1_000_000

    def test_weighted_sample_monotone_in_weight(self, spark):
        from pyspark_datacol_diff_spark.operators.sampling import (
            weighted_hash_sample,
        )

        df = spark.range(1000).select(
            F.col("id").alias("doc_id"), F.lit(1).alias("w_lo")
        ).withColumn("w_hi", F.lit(100))
        lo = weighted_hash_sample(df, "doc_id", "w_lo", 100).collect()
        hi = weighted_hash_sample(df, "doc_id", "w_hi", 100).collect()
        # scaling EVERY weight by the same factor preserves the sample
        # (keys divide uniformly); the rank keys shrink 100x
        assert sorted(r["doc_id"] for r in lo) == sorted(
            r["doc_id"] for r in hi
        )
        assert max(r["__wkey"] for r in hi) < max(r["__wkey"] for r in lo)


class TestRound10Guards:
    """Fresh-lens guards on the round-10 additions themselves."""

    def test_weighted_sample_quoting_salt_and_names_safe(self, spark):
        # r11: the key is composed from Column calls (F.lit/F.col), so a
        # quoted salt or a quote-bearing COLUMN NAME can no longer break
        # or reshape the expression — they must simply work (VERDICT r10
        # #6 replaced the string-rejection guard with composition)
        from pyspark_datacol_diff_spark.operators.sampling import (
            weighted_hash_sample,
        )

        df = spark.range(5).select(
            F.col("id").alias("doc'id"), F.lit(2).alias("w'x")
        )
        rows = weighted_hash_sample(df, "doc'id", "w'x", 3, salt="x'y")
        got = rows.collect()
        assert len(got) == 3
        assert all(r["__wkey"] >= 0 for r in got)
        # same salt reproduces; the weird identifiers round-trip
        again = weighted_hash_sample(
            df, "doc'id", "w'x", 3, salt="x'y"
        ).collect()
        assert [r["doc'id"] for r in got] == [r["doc'id"] for r in again]

    def test_weighted_sample_rejects_reserved_columns(self, spark):
        from pyspark_datacol_diff_spark.operators.sampling import (
            weighted_hash_sample,
        )

        df = spark.range(3).select(
            F.col("id").alias("doc_id"),
            F.lit(1).alias("w"),
            F.lit(0).alias("__h"),
        )
        with pytest.raises(ValueError, match="__h"):
            weighted_hash_sample(df, "doc_id", "w", 1)

    def test_collapse_rejects_reserved_column(self, spark):
        import datetime as dt

        from pyspark_datacol_diff_spark.operators.range_join import (
            collapse_consecutive,
        )

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), 1, "a", 0)],
            ["event_id", "ts", "user_id", "event_type", "__prev"],
        )
        with pytest.raises(ValueError, match="__prev"):
            collapse_consecutive(
                df, ["user_id"], "ts", "event_type",
                tiebreak_cols=["event_id"],
            )


class TestChi2AndSimpson:
    """Hand-computed pins for the wave-2 r10 statistics operators."""

    def test_chi2_hand_case(self, spark):
        from pyspark_datacol_diff_spark.operators.quality import chi2_ppm

        df = spark.createDataFrame(
            [("a", "x"), ("a", "y"), ("b", "x"), ("b", "x")], ["r", "c"]
        )
        row = chi2_ppm(df, "r", "c").collect()[0]
        # true chi2 = 4*(1/6 + 1/2 + 4/6) - 4 = 4/3; per-cell truncated
        # terms: 666666 + 2000000 + 2666666 - 4000000 = 1333332
        assert (
            row["n"],
            row["n_row_cats"],
            row["n_col_cats"],
            row["dof"],
            row["chi2_ppm"],
        ) == (4, 2, 2, 1, 1_333_332)

    def test_chi2_null_category_is_a_cell(self, spark):
        from pyspark_datacol_diff_spark.operators.quality import chi2_ppm

        df = spark.createDataFrame(
            [("a", "x"), ("a", None), ("b", "x"), ("b", None)],
            "r string, c string",
        )
        row = chi2_ppm(df, "r", "c").collect()[0]
        # perfectly independent 2x2 -> every term O^2*n*ppm/(R*C) =
        # 1*4e6/4 = 1e6, sum 4e6, chi2 = 0
        assert (row["n_col_cats"], row["chi2_ppm"]) == (2, 0)

    def test_simpson_hand_case(self, spark):
        from pyspark_datacol_diff_spark.operators.corpus import (
            simpson_diversity,
        )

        d = spark.createDataFrame(
            [("s1", "a a b"), ("s2", "z z z z")], ["source", "text"]
        )
        rows = {
            r["source"]: r
            for r in simpson_diversity(d, ["source"]).collect()
        }
        # s1: 1 - 5/9 = 4/9 -> 1e6 - 5e6 DIV 9 = 444445
        assert (
            rows["s1"]["n_tokens"],
            rows["s1"]["n_types"],
            rows["s1"]["simpson_ppm"],
        ) == (3, 2, 444_445)
        # one repeated token: zero diversity
        assert rows["s2"]["simpson_ppm"] == 0
