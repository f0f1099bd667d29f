"""Round-9 hardening: the forced-broadcast lint class (the r08 verdict's
one scale-killer), the join-shape regressions pinning its fixes, the
ks_statistic guards, interval_overlap_join's reserved-column /
blow-up / quoting hardening, and the checked BIGINT cast."""

import datetime

import pytest
from pyspark.sql import functions as F

from pyspark_datacol_diff_spark.operators import checked_long
from pyspark_datacol_diff_spark.operators.cluster import drop_near_dups
from pyspark_datacol_diff_spark.operators.cooccur import (
    association_rules,
    cooccurrence_stats,
)
from pyspark_datacol_diff_spark.operators.corpus import (
    shingle_overlap,
    skipgram_pairs,
    vocab_growth,
)
from pyspark_datacol_diff_spark.operators.quality import ks_statistic
from pyspark_datacol_diff_spark.operators.range_join import (
    interval_overlap_join,
)
from pyspark_datacol_diff_spark.plans import (
    forced_broadcast_builds,
    scale_lint,
)


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def _keyed_agg_builds(df):
    return [
        b for b in forced_broadcast_builds(df) if b["kind"] == "keyed_aggregate"
    ]


class TestForcedBroadcastLint:
    """plans.scale_lint's new class: a broadcast HINT whose build side
    is a keyed aggregate — row count = the key domain's cardinality,
    which is the data's, so AQE cannot save it."""

    def _toy(self, spark):
        return spark.range(200).select(
            (F.col("id") % 7).alias("a"), (F.col("id") % 3).alias("b")
        )

    def test_synthetic_offender_fires_error(self, spark):
        df = self._toy(spark)
        marg = df.groupBy("a").agg(F.count(F.lit(1)).alias("n"))
        bad = df.join(F.broadcast(marg), "a")
        finds = [
            f for f in scale_lint(bad) if f["code"] == "forced_broadcast"
        ]
        assert len(finds) == 1 and finds[0]["severity"] == "error"
        assert "keyed aggregate" in finds[0]["detail"]

    def test_declaration_downgrades_to_info(self, spark):
        df = self._toy(spark)
        marg = df.groupBy("a").agg(F.count(F.lit(1)).alias("n"))
        bad = df.join(F.broadcast(marg), "a")
        finds = [
            f
            for f in scale_lint(
                bad, declared_bounded_broadcast="a is a 7-value enum"
            )
            if f["code"] == "forced_broadcast"
        ]
        assert len(finds) == 1 and finds[0]["severity"] == "info"
        assert "7-value enum" in finds[0]["detail"]

    def test_scalar_and_relation_builds_not_flagged(self, spark):
        df = self._toy(spark)
        tot = df.select(F.sum("a").alias("s"))
        scalar = df.crossJoin(F.broadcast(tot))
        assert [b["kind"] for b in forced_broadcast_builds(scalar)] == [
            "scalar"
        ]
        dim = spark.range(7).select(F.col("id").alias("a"))
        rel = df.join(F.broadcast(dim), "a")
        assert [b["kind"] for b in forced_broadcast_builds(rel)] == [
            "relation"
        ]
        lim = df.groupBy("a").agg(F.count(F.lit(1)).alias("n")).limit(5)
        bounded = df.join(F.broadcast(lim), "a")
        assert [b["kind"] for b in forced_broadcast_builds(bounded)] == [
            "limited"
        ]
        for d in (scalar, rel, bounded):
            assert not [
                f for f in scale_lint(d) if f["code"] == "forced_broadcast"
            ]

    def test_unhinted_join_has_no_builds(self, spark):
        df = self._toy(spark)
        marg = df.groupBy("a").agg(F.count(F.lit(1)).alias("n"))
        assert forced_broadcast_builds(df.join(marg, "a")) == []


class TestNoForcedDataGrainBroadcasts:
    """Join-shape regressions: the r08 scale-killers must plan with NO
    broadcast-hinted keyed-aggregate build (AQE owns the strategy)."""

    def test_skipgram_pairs(self, spark):
        d = spark.createDataFrame(
            [("a b c a b",), ("b c d b c",)], ["text"]
        )
        out = skipgram_pairs(d, "text", window=2, min_count=1)
        assert _keyed_agg_builds(out) == []
        # the scalar pair total stays a broadcast — that part is right
        assert any(
            b["kind"] == "scalar" for b in forced_broadcast_builds(out)
        )

    def test_cooccurrence_stats(self, spark):
        d = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (2, "z")],
            ["g", "item"],
        )
        out = cooccurrence_stats(d, "g", "item")
        assert _keyed_agg_builds(out) == []
        # still correct: (x,y) share groups 1 and 2
        got = {
            (r["item_a"], r["item_b"]): (r["n_ab"], r["n_a"], r["n_b"])
            for r in out.collect()
        }
        assert got[("x", "y")] == (2, 2, 2)
        assert got[("y", "z")] == (1, 2, 1)

    def test_association_rules(self, spark):
        d = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x")],
            ["g", "item"],
        )
        out = association_rules(d, "g", "item", min_count=1)
        assert _keyed_agg_builds(out) == []
        got = {
            (r["antecedent"], r["consequent"]): r["confidence_ppm"]
            for r in out.collect()
        }
        assert got[("x", "y")] == 666666  # 2 of x's 3 baskets
        assert got[("y", "x")] == 1_000_000

    def test_shingle_overlap(self, spark):
        d = spark.createDataFrame(
            [("s1", "a b c d"), ("s2", "b c d e")], ["src", "text"]
        )
        out = shingle_overlap(d, "src", "text", n=2)
        assert _keyed_agg_builds(out) == []
        rows = out.collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["n_shared"], r["n_a"], r["n_b"]) == (2, 3, 3)

    def test_drop_near_dups_victim_anti_join(self, spark):
        corpus = spark.createDataFrame(
            [(i, f"doc{i}") for i in range(1, 7)], ["doc_id", "text"]
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
        )
        kept = drop_near_dups(corpus, pairs, "doc_id")
        assert forced_broadcast_builds(kept) == []
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4, 5]


class TestKsStatisticGuards:
    def test_empty_group_raises(self, spark):
        d = spark.createDataFrame(
            [("a", 1), ("a", 2), ("a", 3)], ["grp", "v"]
        )
        with pytest.raises(ValueError, match="non-empty samples"):
            ks_statistic(d, "grp", "v", "a", "b")

    def test_null_bucket_keys_raise(self, spark):
        # under ANSI (the session default) the CAST itself errors; the
        # guard covers non-ANSI sessions, where 'oops' casts to NULL and
        # the driver-side sorted() would otherwise TypeError on None
        d = spark.createDataFrame(
            [("a", "1"), ("a", "oops"), ("b", "2")], ["grp", "v"]
        )
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            with pytest.raises(ValueError, match="NULL bucket keys"):
                ks_statistic(d, "grp", "v", "a", "b")
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)

    def test_still_exact_on_good_input(self, spark):
        # a = {1,2}, b = {2,3}: cum_a/2 vs cum_b/2 -> sup at v=1: |1/2-0| = 0.5
        d = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 2), ("b", 3)], ["grp", "v"]
        )
        r = ks_statistic(d, "grp", "v", "a", "b").collect()[0]
        assert (r["n_a"], r["n_b"], r["ks_ppm"]) == (2, 2, 500000)


class TestIntervalOverlapHardening:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:30:00"))],
            ["lid", "ls", "le"],
        )
        right = spark.createDataFrame(
            [(_ts("2024-01-01 11:00:00"), _ts("2024-01-01 12:00:00"), "r1")],
            ["rs", "re", "tag"],
        )
        return left, right

    def test_basic_overlap_still_exact(self, spark):
        left, right = self._frames(spark)
        rows = interval_overlap_join(
            left, right,
            left_start="ls", left_end="le",
            right_start="rs", right_end="re",
            right_cols=["tag"], bucket_seconds=3600,
        ).collect()
        assert len(rows) == 1
        assert rows[0]["overlap_us"] == 30 * 60 * 1_000_000

    def test_reserved_columns_raise(self, spark):
        left, right = self._frames(spark)
        bad = left.withColumn("__b", F.lit(1))
        with pytest.raises(ValueError, match="reserved"):
            interval_overlap_join(
                bad, right,
                left_start="ls", left_end="le",
                right_start="rs", right_end="re",
                right_cols=["tag"],
            )
        with pytest.raises(ValueError, match="reserved"):
            interval_overlap_join(
                left, right.withColumnRenamed("tag", "__rs"),
                left_start="ls", left_end="le",
                right_start="rs", right_end="re",
                right_cols=["__rs"], suffix="",
            )

    def test_bucket_blowup_raises_at_execution(self, spark):
        # a 2-hour interval at 1-second buckets = 7201 buckets > 4096
        left, right = self._frames(spark)
        wide = left.withColumn("le", F.col("ls") + F.expr("INTERVAL 2 HOURS"))
        j = interval_overlap_join(
            wide, right,
            left_start="ls", left_end="le",
            right_start="rs", right_end="re",
            right_cols=["tag"], bucket_seconds=1,
        )
        with pytest.raises(Exception, match="max_buckets_per_row"):
            j.collect()
        # raising the limit makes the same join run
        ok = interval_overlap_join(
            wide, right,
            left_start="ls", left_end="le",
            right_start="rs", right_end="re",
            right_cols=["tag"], bucket_seconds=1,
            max_buckets_per_row=10_000,
        )
        assert ok.count() == 1

    def test_quoted_column_names(self, spark):
        # names with spaces/hyphens must survive (no raw SQL inlining)
        left, right = self._frames(spark)
        left2 = left.withColumnRenamed("ls", "session start").withColumnRenamed(
            "le", "session-end"
        )
        rows = interval_overlap_join(
            left2, right,
            left_start="session start", left_end="session-end",
            right_start="rs", right_end="re",
            right_cols=["tag"], bucket_seconds=3600,
        ).collect()
        assert len(rows) == 1
        assert rows[0]["overlap_us"] == 30 * 60 * 1_000_000

    def test_half_open_endpoint_still_excluded(self, spark):
        left, right = self._frames(spark)
        touch = right.withColumn(
            "rs", F.lit(_ts("2024-01-01 11:30:00"))
        ).withColumn("re", F.lit(_ts("2024-01-01 12:00:00")))
        assert (
            interval_overlap_join(
                left, touch,
                left_start="ls", left_end="le",
                right_start="rs", right_end="re",
                right_cols=["tag"], bucket_seconds=3600,
            ).count()
            == 0
        )


class TestCheckedLong:
    def test_in_range_casts(self, spark):
        d = spark.createDataFrame([(7,)], ["x"]).select(
            F.col("x").cast("decimal(38,0)").alias("x")
        )
        assert d.select(
            checked_long(F.col("x")).alias("v")
        ).collect()[0]["v"] == 7

    def test_overflow_raises_loudly(self, spark):
        d = spark.createDataFrame([("9223372036854775808",)], ["s"]).select(
            F.col("s").cast("decimal(38,0)").alias("x")
        )
        with pytest.raises(Exception, match="checked_long"):
            d.select(
                checked_long(F.col("x"), context="HITS score").alias("v")
            ).collect()


class TestVocabGrowthIngestionOrderContract:
    def test_docstring_warns_about_hash_ordered_ids(self):
        assert "hash-ordered" in vocab_growth.__doc__
        assert "ingestion" in vocab_growth.__doc__

    def test_id_order_changes_the_curve(self, spark):
        # the caveat demonstrated: same corpus, permuted ids -> a
        # DIFFERENT growth curve (ids ARE the order contract; a hash
        # order silently smears first-appearances across buckets)
        docs = [(1, "a"), (2, "a"), (3, "b"), (4, "b")]
        perm = [(1, "a"), (3, "a"), (2, "b"), (4, "b")]

        def curve(rows):
            return {
                r["bucket"]: r["new_types"]
                for r in vocab_growth(
                    spark.createDataFrame(rows, ["doc_id", "text"]),
                    "doc_id", "text", n_buckets=2,
                ).collect()
            }

        got_docs, got_perm = curve(docs), curve(perm)
        assert got_docs.get(0) == 1 and got_docs.get(1) == 1
        assert got_perm.get(0) == 2  # both types look "early" — wrong story
        assert got_docs != got_perm


class TestAutoNlist:
    def test_sqrt_rule_with_floor_and_cap(self, spark):
        from pyspark_datacol_diff_spark.operators.similarity import (
            auto_nlist,
        )

        d = spark.range(400).select(F.col("id").alias("vec_id"))
        assert auto_nlist(d) == 20  # isqrt(400), above the floor of 16
        assert auto_nlist(d, floor=32) == 32
        assert auto_nlist(d, floor=1, cap=10) == 10
        tiny = spark.range(4)
        assert auto_nlist(tiny) == 16  # floor keeps tiny corpora sane

    def test_auto_flows_into_ivf(self, spark):
        from pyspark_datacol_diff_spark.operators.similarity import (
            mutual_knn_pairs,
        )

        # 300 unit-ish vectors in 4 dims; nlist='auto' -> isqrt(300)=17
        # -> floor 16..17; nprobe must stay <= nlist, so use nprobe=3
        emb = spark.range(300).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 5 + 1).cast("float"),
                (F.col("id") % 7 + 1).cast("float"),
                (F.col("id") % 3 + 1).cast("float"),
                F.lit(1.0).cast("float"),
            ).alias("embedding"),
        )
        out = mutual_knn_pairs(
            emb, 3, method="ivf", nlist="auto", nprobe=3, iterations=1
        )
        # mutual pairs are symmetric-reciprocal and id_a < id_b
        rows = out.collect()
        assert all(r["id_a"] < r["id_b"] for r in rows)
        assert len(rows) > 0

    def test_bad_nlist_rejected(self, spark):
        from pyspark_datacol_diff_spark.operators.similarity import (
            ivf_topk,
        )

        emb = spark.range(10).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
        )
        q = emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        with pytest.raises(ValueError, match="positive int or 'auto'"):
            ivf_topk(emb, q, 2, nlist="sqrt")
        with pytest.raises(ValueError, match="positive int or 'auto'"):
            ivf_topk(emb, q, 2, nlist=0)


class TestWinnowFingerprints:
    def test_moss_guarantee_shared_run_surfaces(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import (
            winnow_shared_pairs,
        )

        # docs 1/2 share the 5-token run "a b c d e" >= w+k-1 = 4 at
        # k=3,w=2 -> guaranteed >= 1 shared fingerprint; doc 3 disjoint
        d = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "x y a b c d e z"),
             (3, "p q r s t u v")],
            ["doc_id", "text"],
        )
        rows = winnow_shared_pairs(d, "doc_id", "text", k=3, w=2).collect()
        assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
        assert rows[0]["n_shared"] >= 1

    def test_short_doc_conventions(self, spark):
        from pyspark_datacol_diff_spark.operators.text import (
            winnow_fingerprints,
        )

        d = spark.createDataFrame(
            [(1, "a b"), (2, "q r s"), (3, "")], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: r["fps"]
            for r in winnow_fingerprints(d, "text", k=3, w=2).collect()
        }
        assert got[1] == []          # fewer than k tokens: no grams
        assert len(got[2]) == 1      # one gram: one window-of-all
        assert got[3] == []

    def test_density_below_full_shingling(self, spark):
        from pyspark_datacol_diff_spark.operators.text import (
            winnow_fingerprints,
        )

        text = " ".join(f"t{i}" for i in range(100))
        d = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        n_fps = len(
            winnow_fingerprints(d, "text", k=4, w=5, out_col="f")
            .collect()[0]["f"]
        )
        # 97 grams; winnowing selects ~2/(w+1) = ~1/3 of them
        assert n_fps < 60

    def test_max_df_guard(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import (
            winnow_shared_pairs,
        )

        d = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="max_df"):
            winnow_shared_pairs(d, "doc_id", "text", max_df=1)


class TestClusterPurity:
    def test_hand_computed(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            cluster_purity,
        )

        comps = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], ["node", "comp"]
        )
        labels = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c")],
            ["node", "label"],
        )
        got = {
            r["comp"]: (r["size"], r["majority_n"], r["purity_ppm"])
            for r in cluster_purity(comps, labels).collect()
        }
        assert got == {1: (3, 2, 666666), 4: (2, 2, 1000000)}

    def test_unlabeled_nodes_dropped(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            cluster_purity,
        )

        comps = spark.createDataFrame([(1, 1), (2, 1)], ["node", "comp"])
        labels = spark.createDataFrame([(1, "a")], ["node", "label"])
        rows = cluster_purity(comps, labels).collect()
        assert rows[0]["size"] == 1 and rows[0]["purity_ppm"] == 1_000_000


class TestMadRobustStats:
    def test_hand_computed_with_outlier(self, spark):
        from pyspark_datacol_diff_spark.operators.quality import (
            mad_robust_stats,
        )

        # values 1..5 + 100: median 3 (disc lower-of-even on 6 values
        # picks the 3rd), deviations {2,1,0,1,2,97} -> mad 1 (3rd of
        # sorted {0,1,1,2,2,97}); only 97 > 3*1
        d = spark.createDataFrame(
            [("t", v) for v in [1, 2, 3, 4, 5, 100]], ["g", "v"]
        )
        r = mad_robust_stats(d, ["g"], "v").collect()[0]
        assert (r["n"], r["median"], r["mad"], r["n_outliers"]) == (6, 3, 1, 1)

    def test_degenerate_mad_zero_contract(self, spark):
        from pyspark_datacol_diff_spark.operators.quality import (
            mad_robust_stats,
        )

        # >half identical -> MAD 0 -> everything != median flagged
        d = spark.createDataFrame(
            [("t", v) for v in [5, 5, 5, 5, 9, 2]], ["g", "v"]
        )
        r = mad_robust_stats(d, ["g"], "v").collect()[0]
        assert r["mad"] == 0 and r["n_outliers"] == 2

    def test_nulls_filtered(self, spark):
        from pyspark_datacol_diff_spark.operators.quality import (
            mad_robust_stats,
        )

        d = spark.createDataFrame(
            [("t", 1), ("t", None), ("t", 3)], ["g", "v"]
        )
        assert mad_robust_stats(d, ["g"], "v").collect()[0]["n"] == 2


class TestInterarrivalStats:
    def test_hand_computed(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            interarrival_stats,
        )

        e = spark.createDataFrame(
            [
                (1, _ts("2024-01-01 10:00:00")),
                (1, _ts("2024-01-01 10:00:10")),
                (1, _ts("2024-01-01 10:01:10")),
                (2, _ts("2024-01-01 09:00:00")),  # single event: no gaps
            ],
            ["user_id", "ts"],
        )
        rows = interarrival_stats(e, ["user_id"], "ts").collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["user_id"], r["n_gaps"]) == (1, 2)
        assert (r["min_gap_us"], r["max_gap_us"]) == (10_000_000, 60_000_000)
        assert r["sum_gap_us"] == 70_000_000
        assert r["p50_gap_us"] == 10_000_000

    def test_tied_timestamps_are_order_free(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            interarrival_stats,
        )

        # two rows at the identical instant: gap multiset {0, 60s}
        # whatever order the tie lands in
        e = spark.createDataFrame(
            [
                (1, _ts("2024-01-01 10:00:00")),
                (1, _ts("2024-01-01 10:00:00")),
                (1, _ts("2024-01-01 10:01:00")),
            ],
            ["user_id", "ts"],
        )
        r = interarrival_stats(e, ["user_id"], "ts").collect()[0]
        assert (r["n_gaps"], r["min_gap_us"], r["max_gap_us"]) == (
            2, 0, 60_000_000,
        )


class TestDocKeywords:
    def test_rare_term_outranks_common(self, spark):
        from pyspark_datacol_diff_spark.operators.corpus import doc_keywords

        d = spark.createDataFrame(
            [(1, "spark spark rare"), (2, "spark common common"),
             (3, "common zed")],
            ["doc_id", "text"],
        )
        got = {
            (r["doc_id"], r["rnk"]): (r["term"], r["score"])
            for r in doc_keywords(d, "doc_id", "text", k=2).collect()
        }
        # doc 1: rare (1 * 3e6/1) ties spark (2 * 3e6/2) -> term asc
        assert got[(1, 1)] == ("rare", 3_000_000)
        assert got[(1, 2)] == ("spark", 3_000_000)
        assert got[(2, 1)] == ("common", 3_000_000)
        assert got[(3, 2)] == ("common", 1_500_000)

    def test_no_forced_vocab_broadcast(self, spark):
        from pyspark_datacol_diff_spark.operators.corpus import doc_keywords

        d = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        assert _keyed_agg_builds(doc_keywords(d, "doc_id", "text")) == []


class TestJoinSkewProbe:
    def test_counts_products_and_one_sided_keys(self, spark):
        from pyspark_datacol_diff_spark.operators.skew import (
            join_skew_probe,
        )

        l = spark.createDataFrame([(1,), (1,), (1,), (2,)], ["k"])
        r = spark.createDataFrame([(1,), (1,), (3,)], ["k"])
        got = {
            row["k"]: (row["n_left"], row["n_right"], row["pairs_out"])
            for row in join_skew_probe(l, r, ["k"], top=5).collect()
        }
        assert got == {1: (3, 2, 6), 2: (1, 0, 0), 3: (0, 1, 0)}

    def test_top_cut_is_deterministic(self, spark):
        from pyspark_datacol_diff_spark.operators.skew import (
            join_skew_probe,
        )

        l = spark.createDataFrame([(k,) for k in [1, 2, 3]], ["k"])
        r = spark.createDataFrame([(k,) for k in [1, 2, 3]], ["k"])
        rows = join_skew_probe(l, r, ["k"], top=2).collect()
        # all products tie at 1: the key ascending tiebreak decides
        assert [row["k"] for row in rows] == [1, 2]


class TestLabelCentroidCoherence:
    def test_aligned_vs_opposed(self, spark):
        from pyspark_datacol_diff_spark.operators.similarity import (
            label_centroid_coherence,
        )

        emb = spark.createDataFrame(
            [("a", [1.0, 0.0]), ("a", [1.0, 0.0]),
             ("b", [1.0, 0.0]), ("b", [-1.0, 0.0])],
            ["label", "embedding"],
        )
        got = {
            r["label"]: (r["n_vecs"], r["coherence_q"])
            for r in label_centroid_coherence(emb).collect()
        }
        # aligned: ||2e6, 0||^2 / 2 = 2e12; opposed: 0
        assert got == {"a": (2, 2_000_000_000_000), "b": (2, 0)}


class TestFunnelWindowed:
    def test_window_constraint_bites(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            funnel_windowed,
        )

        # user 1: full funnel inside the window; user 2's click is 40min
        # after the view (outside 30min) so stages 2/3 must not count;
        # user 3 views only
        rows = [
            (1, _ts("2024-01-01 10:00:00"), 1, "view"),
            (2, _ts("2024-01-01 10:10:00"), 1, "click"),
            (3, _ts("2024-01-01 10:20:00"), 1, "purchase"),
            (4, _ts("2024-01-01 10:00:00"), 2, "view"),
            (5, _ts("2024-01-01 10:40:00"), 2, "click"),
            (6, _ts("2024-01-01 10:41:00"), 2, "purchase"),
            (7, _ts("2024-01-01 10:00:00"), 3, "view"),
        ]
        e = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        r = funnel_windowed(
            e, ["user_id"], "ts", "event_type",
            ["view", "click", "purchase"],
            within_seconds=1800, tiebreak_cols=["event_id"],
        ).collect()[0]
        assert (r["n_stage1"], r["n_stage2"], r["n_stage3"]) == (3, 1, 1)

    def test_purchase_window_measured_from_qualified_click(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            funnel_windowed,
        )

        # click qualifies, but the purchase lands 31min after it —
        # stage 3 must not count even though view->purchase < 60min
        rows = [
            (1, _ts("2024-01-01 10:00:00"), 1, "view"),
            (2, _ts("2024-01-01 10:05:00"), 1, "click"),
            (3, _ts("2024-01-01 10:36:30"), 1, "purchase"),
        ]
        e = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        r = funnel_windowed(
            e, ["user_id"], "ts", "event_type",
            ["view", "click", "purchase"],
            within_seconds=1800, tiebreak_cols=["event_id"],
        ).collect()[0]
        assert (r["n_stage1"], r["n_stage2"], r["n_stage3"]) == (1, 1, 0)

    def test_guards(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            funnel_windowed,
        )

        e = spark.createDataFrame(
            [], "event_id long, ts timestamp, user_id long, event_type string"
        )
        # round 10 lifted the exactly-3-stages restriction (VERDICT r09
        # #8): >= 2 stages are supported; the guards now cover the
        # genuinely undefined shapes
        with pytest.raises(ValueError, match=">= 2 stages"):
            funnel_windowed(
                e, ["user_id"], "ts", "event_type", ["a"],
                within_seconds=60,
            )
        with pytest.raises(ValueError, match="within_seconds"):
            funnel_windowed(
                e, ["user_id"], "ts", "event_type", ["a", "b"],
                within_seconds=0,
            )


class TestSeasonalResidualCensus:
    def test_hand_computed(self, spark):
        from pyspark_datacol_diff_spark.operators.range_join import (
            seasonal_residual_census,
        )

        # two rows in the same (type, hour-of-week) cell: mean of
        # (100, 300) truncates to 200 -> residuals -100/+100; a third
        # row alone in another cell has residual 0
        rows = [
            ("a", _ts("2024-01-01 10:00:00"), 100),
            ("a", _ts("2024-01-08 10:30:00"), 300),  # same Monday-10 cell
            ("a", _ts("2024-01-01 11:00:00"), 999),
        ]
        d = spark.createDataFrame(rows, "type string, ts timestamp, v long")
        r = seasonal_residual_census(
            d, "type", "ts", "v", threshold=50
        ).collect()[0]
        assert (r["n"], r["max_abs_residual"], r["n_anomalies"]) == (3, 100, 2)


class TestTopShare:
    def test_hand_computed_and_tie_determinism(self, spark):
        from pyspark_datacol_diff_spark.operators.histogram import top_share

        # counts: u1=3, u2=2, u3=2, u4=1 (8 rows). top_k=2 -> u1 + u2
        # (tie u2/u3 broken by ascending key) = 5/8 = 625000 ppm
        d = spark.createDataFrame(
            [(u,) for u in [1, 1, 1, 2, 2, 3, 3, 4]], ["user_id"]
        )
        r = top_share(d, ["user_id"], top_k=2).collect()[0]
        assert (r["n_keys"], r["n_rows"], r["top_k"], r["top_rows"]) == (
            4, 8, 2, 5,
        )
        assert r["share_ppm"] == 625000

    def test_top_k_larger_than_domain(self, spark):
        from pyspark_datacol_diff_spark.operators.histogram import top_share

        d = spark.createDataFrame([(1,), (2,)], ["user_id"])
        r = top_share(d, ["user_id"], top_k=10).collect()[0]
        assert (r["top_k"], r["share_ppm"]) == (2, 1_000_000)


class TestLocalClustering:
    def test_triangle_plus_bridge(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            local_clustering,
        )

        # triangle 1-2-3 plus bridge 3-4: nodes 1,2 have deg 2 and one
        # triangle -> lcc = 2*1e6/(2*1) = 1e6; node 3 deg 3, one
        # triangle -> 2*1e6/6 = 333333; node 4 deg 1 -> excluded
        e = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], ["id_a", "id_b"]
        )
        got = {
            r["node"]: (r["degree"], r["n_tri"], r["lcc_ppm"])
            for r in local_clustering(e).collect()
        }
        assert got == {
            1: (2, 1, 1_000_000),
            2: (2, 1, 1_000_000),
            3: (3, 1, 333333),
        }

    def test_triangle_free_node_scores_zero(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            local_clustering,
        )

        # path 1-2-3: node 2 has degree 2, no triangle -> lcc 0
        e = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
        got = {r["node"]: r["lcc_ppm"] for r in local_clustering(e).collect()}
        assert got == {2: 0}


class TestNoAliasInlineFence:
    def test_explode_does_not_reinline_fingerprints_into_a_filter(
        self, spark
    ):
        from pyspark_datacol_diff_spark.operators.text import (
            winnow_fingerprints,
        )
        from pyspark_datacol_diff_spark.plans import optimized_plan

        d = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "")], ["doc_id", "text"]
        )
        ex = winnow_fingerprints(d, "text", k=3, w=2).select(
            "doc_id", F.explode("fps").alias("fp")
        )
        plan = optimized_plan(ex)
        # InferFiltersFromGenerate adds size(fps) > 0; without the
        # no_alias_inline fence PushDownPredicates substitutes the
        # alias and the whole md5 gram-hash chain lands inside a
        # Filter, re-evaluated per window — the 674 s -> 6 s sf0.1 bug
        for line in plan.splitlines():
            stripped = line.lstrip(" :+-")
            if stripped.startswith("Filter"):
                assert "md5(" not in line, line

    def test_fence_preserves_values(self, spark):
        from pyspark_datacol_diff_spark.sources import no_alias_inline

        d = spark.range(100).select(
            no_alias_inline(F.col("id") * 2).alias("x")
        )
        assert d.agg(F.sum("x")).collect()[0][0] == 9900
