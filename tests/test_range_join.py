"""Bounded range join: hand cases, randomized cross-check vs the naive
cross-join, and the no-nested-loop plan contract."""

import pytest
from pyspark.sql import functions as F

from pyspark_datacol_diff_spark.operators.range_join import bounded_range_join


def test_hand_case_inclusive_bounds(spark):
    left = spark.createDataFrame([("u", 100.0, "l1")], ["user", "t", "lid"])
    right = spark.createDataFrame(
        [
            ("u", 90.0, "in_lo"),   # exactly at lower bound (100-10)
            ("u", 100.0, "in_hi"),  # exactly at upper bound
            ("u", 89.9, "below"),
            ("u", 100.1, "above"),
            ("v", 95.0, "wrong_key"),
        ],
        ["user", "t", "rid"],
    )
    out = bounded_range_join(
        left, right, ["user"], "t", "t", ["rid"], min_delta=-10, max_delta=0
    )
    got = sorted(r["rid_r"] for r in out.collect())
    assert got == ["in_hi", "in_lo"]


def test_randomized_matches_naive_cross_join(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    left = pd.DataFrame(
        {
            "user": rng.integers(0, 4, 150),
            "t": rng.uniform(0, 1000, 150),
            "lid": np.arange(150),
        }
    )
    right = pd.DataFrame(
        {
            "user": rng.integers(0, 4, 150),
            "t": rng.uniform(0, 1000, 150),
            "rid": np.arange(150),
        }
    )
    lo, hi = -37.5, 12.25
    want = set()
    for l in left.itertuples():
        for r in right.itertuples():
            if l.user == r.user and lo <= r.t - l.t <= hi:
                want.add((l.lid, r.rid))

    out = bounded_range_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        ["user"],
        "t",
        "t",
        ["rid"],
        min_delta=lo,
        max_delta=hi,
    )
    got = {(r["lid"], r["rid_r"]) for r in out.collect()}
    # float->micros rounding can flip membership only for pairs within
    # 1e-6 s of a bound; the generator makes that measure-zero
    assert got == want


def test_degenerate_window_raises(spark):
    df = spark.createDataFrame([("u", 1.0)], ["user", "t"])
    with pytest.raises(ValueError):
        bounded_range_join(
            df, df, ["user"], "t", "t", [], min_delta=5, max_delta=5
        )


def test_plan_has_no_nested_loop(spark):
    left = spark.createDataFrame([("u", 100.0)], ["user", "t"])
    right = spark.createDataFrame([("u", 95.0, 7)], ["user", "t", "rid"])
    out = bounded_range_join(
        left, right, ["user"], "t", "t", ["rid"], min_delta=-10, max_delta=0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


class TestIntervalMaxConcurrency:
    """Round-6: distributed sweep-line peak-concurrency."""

    def _df(self, spark, rows):
        import datetime as dt

        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        data = [
            (base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=e))
            for s, e in rows
        ]
        return spark.createDataFrame(data, "s timestamp, en timestamp")

    def _run(self, spark, rows, grain="hour"):
        from pyspark_datacol_diff_spark.operators.range_join import (
            interval_max_concurrency,
        )

        df = self._df(spark, rows)
        return {
            str(r["grain_start"]): r["max_concurrency"]
            for r in interval_max_concurrency(
                df, "s", "en", grain=grain
            ).collect()
        }

    def test_basic_overlap_and_carry_in(self, spark):
        # hour 0: three intervals, two overlap -> peak 2
        # one interval spans into hour 1 where only a short one starts:
        # at the short one's start the spanner is still open -> peak 2,
        # but hour 1's own points alone would only ever see 2 anyway;
        # the carry-in case: hour 2 has a single point while TWO
        # spanners from hour 1 are still open at its entry
        rows = [
            (0, 10), (5, 15), (20, 30),          # hour 0: peak 2
            (50, 130), (55, 135),                # span hours 0->2
            (70, 80),                            # hour 1 point: 3 open
            (125, 126),                          # hour 2: 2 spanners open
        ]
        got = self._run(spark, rows)
        assert got["2024-01-01 00:00:00"] == 2
        assert got["2024-01-01 01:00:00"] == 3
        assert got["2024-01-01 02:00:00"] == 3  # carried level >= points
        # brute-force the whole step function as ground truth
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        ivs = [
            (base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=e))
            for s, e in rows
        ]
        pts = sorted({t for iv in ivs for t in iv})
        expect: dict = {}
        for t in pts + [t.replace(minute=0, second=0) for t in pts]:
            c = sum(1 for s, e in ivs if s <= t < e)
            h = str(t.replace(minute=0, second=0, microsecond=0))
            expect[h] = max(expect.get(h, 0), c)
        assert {h: v for h, v in got.items()} == expect

    def test_half_open_touching_intervals_do_not_overlap(self, spark):
        got = self._run(spark, [(0, 30), (30, 59)])
        assert got == {"2024-01-01 00:00:00": 1}

    def test_zero_length_interval_never_registers(self, spark):
        got = self._run(spark, [(10, 10), (20, 40)])
        assert got == {"2024-01-01 00:00:00": 1}


from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7200),  # start second
            st.integers(min_value=0, max_value=3600),  # duration seconds
        ),
        min_size=1,
        max_size=25,
    ),
)
# an interval ending exactly on an hour start: that hour's peak is 0
@example(ivs=[(0, 3600)])
def test_max_concurrency_matches_brute_force(spark, ivs):
    """Property: for ANY interval set (zero-length, touching, and
    hour-spanning included), per-hour peaks equal a brute-force
    half-open step-function evaluation at every boundary and hour
    entry."""
    import datetime as dt

    from pyspark_datacol_diff_spark.operators.range_join import (
        interval_max_concurrency,
    )

    base = dt.datetime(2024, 5, 1)
    rows = [
        (
            base + dt.timedelta(seconds=s),
            base + dt.timedelta(seconds=s + d),
        )
        for s, d in ivs
    ]
    df = spark.createDataFrame(rows, "s timestamp, en timestamp")
    got = {
        r["grain_start"]: r["max_concurrency"]
        for r in interval_max_concurrency(df, "s", "en").collect()
    }

    def conc(t):
        return sum(1 for a, b in rows if a <= t < b)

    expect: dict = {}
    pts = {t for iv in rows for t in iv}
    pts |= {t.replace(minute=0, second=0, microsecond=0) for t in pts}
    for t in pts:
        h = t.replace(minute=0, second=0, microsecond=0)
        expect[h] = max(expect.get(h, 0), conc(t))
    # only hours containing a boundary event are emitted
    emitted = {
        t.replace(minute=0, second=0, microsecond=0)
        for iv in rows
        for t in iv
    }
    expect = {h: v for h, v in expect.items() if h in emitted}
    assert got == expect


class TestPositionAttribution:
    """Round-7: exact-integer U-shaped multi-touch attribution."""

    def test_hand_computed_sessions_and_credits(self, spark):
        import datetime as dt

        from pyspark_datacol_diff_spark.operators.range_join import (
            position_attribution,
        )

        base = dt.datetime(2024, 1, 1, 10, 0, 0)
        rows = [
            # user 1: one 3-touch session then a gap then a singleton
            (1, 1, base),
            (1, 2, base + dt.timedelta(minutes=10)),
            (1, 3, base + dt.timedelta(minutes=20)),
            (1, 4, base + dt.timedelta(minutes=70)),
            # user 2: 5 touches -> middle pool 200000 // 3 = 66666 r2
            (2, 10, base),
            (2, 11, base + dt.timedelta(minutes=1)),
            (2, 12, base + dt.timedelta(minutes=2)),
            (2, 13, base + dt.timedelta(minutes=3)),
            (2, 14, base + dt.timedelta(minutes=4)),
            # user 3: exact 30:00 gap -> SAME session (strict >)
            (3, 20, base),
            (3, 21, base + dt.timedelta(minutes=30)),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp"
        )
        out = {
            (r["user_id"], r["event_id"]): (
                r["session_no"], r["touch_no"], r["n_touches"],
                r["credit_ppm"],
            )
            for r in position_attribution(
                df, ["user_id"], "ts", tiebreak_cols=["event_id"]
            ).collect()
        }
        assert out[(1, 1)] == (1, 1, 3, 400_000)  # n=3: rem is 0
        assert out[(1, 2)] == (1, 2, 3, 200_000)
        assert out[(1, 3)] == (1, 3, 3, 400_000)
        assert out[(1, 4)] == (2, 1, 1, 1_000_000)
        assert out[(2, 10)] == (1, 1, 5, 400_000 + 2)      # 200000 % 3
        assert out[(2, 11)] == (1, 2, 5, 66_666)
        assert out[(2, 14)] == (1, 5, 5, 400_000)
        assert out[(3, 20)][0] == out[(3, 21)][0] == 1     # same session
        assert out[(3, 20)][3] + out[(3, 21)][3] == 1_000_000

    def test_credits_always_sum_to_total(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.range_join import (
            position_attribution,
        )

        base = dt.datetime(2024, 1, 1)
        rows = [
            (u, u * 100 + i, base + dt.timedelta(minutes=i))
            for u in range(1, 8)
            for i in range(u)  # session sizes 1..7
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp"
        )
        sums = (
            position_attribution(
                df, ["user_id"], "ts", tiebreak_cols=["event_id"]
            )
            .groupBy("user_id", "session_no")
            .agg(F.sum("credit_ppm").alias("s"))
            .collect()
        )
        assert all(r["s"] == 1_000_000 for r in sums) and len(sums) == 7

    def test_attribution_validation(self, spark):
        import pytest as _pt

        from pyspark_datacol_diff_spark.operators.range_join import (
            position_attribution,
        )

        df = spark.createDataFrame(
            [(1, 1, None)], "user_id long, event_id long, ts timestamp"
        )
        with _pt.raises(ValueError, match="gap_minutes"):
            position_attribution(df, ["user_id"], "ts", gap_minutes=0)
        with _pt.raises(ValueError, match="first_pct"):
            position_attribution(
                df, ["user_id"], "ts", first_pct=70, last_pct=70
            )


class TestTransitionCounts:
    """r08: exact-ppm Markov transition matrix."""

    def test_hand_stream(self, spark):
        import datetime as dt

        from pyspark_datacol_diff_spark.operators.range_join import (
            transition_counts,
        )

        b = dt.datetime(2024, 1, 1)
        rows = [
            (1, b + dt.timedelta(minutes=i), s, i)
            for i, s in enumerate(["view", "view", "click", "view", "buy"])
        ] + [
            (2, b + dt.timedelta(minutes=i), s, 100 + i)
            for i, s in enumerate(["view", "click"])
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, state string, event_id long"
        )
        got = {
            (r["from_state"], r["to_state"]): (r["n"], r["p_ppm"])
            for r in transition_counts(
                df, ["user_id"], "ts", "state", tiebreak_cols=["event_id"]
            ).collect()
        }
        # user 1: view->view, view->click, click->view, view->buy
        # user 2: view->click      => from view: 4 steps total
        assert got[("view", "view")] == (1, 250_000)
        assert got[("view", "click")] == (2, 500_000)
        assert got[("view", "buy")] == (1, 250_000)
        assert got[("click", "view")] == (1, 1_000_000)

    def test_single_event_keys_emit_nothing(self, spark):
        import datetime as dt

        from pyspark_datacol_diff_spark.operators.range_join import (
            transition_counts,
        )

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), "view", 1)],
            "user_id long, ts timestamp, state string, event_id long",
        )
        assert (
            transition_counts(
                df, ["user_id"], "ts", "state", tiebreak_cols=["event_id"]
            ).count()
            == 0
        )
