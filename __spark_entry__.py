"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship diff query on /root/testdata/sf0.001.
``queries()``     — one callable per implemented operator (SURVEY.md §2 +
                    north-star extensions); each takes (spark, sf_dir).
``oracle_sql()``  — DuckDB-equivalent ANSI SQL per query (tables are
                    pre-registered views), one for every query.

Determinism contract with the oracle (why some outputs look scaled):
aggregates over doubles are order-dependent in the last ulp, and Spark
and DuckDB sum in different orders — so every aggregated money/value
column is computed in exact DECIMAL arithmetic and emitted as a BIGINT
(cents = *100, e4 = *10000, e6 = *1000000). Ratios are derived from
those exact integers with identical double expressions on both sides.
Raw (non-aggregated) doubles pass through untouched — both engines read
identical bits from parquet. The package fixes the encoding once, in
``pyspark_datacol_diff_spark/operators/__init__.py``: ``PPM`` (integer
ratios, ``*_ppm = num * 1000000 DIV den``), ``EMBED_QUANT`` (embedding
elements enter integer math as ``floor(double(x) * 1000000)``),
``DIGEST_MODULUS`` (content digests are sums mod 10^18), and the md5
gram/value hashes ``md5_int32`` / ``md5_int60`` (the first 8 / 15 hex
digits of md5 as an integer). No operator takes these as options; the
oracle SQL spells them as literals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_datacol_diff_spark import diff, flag_counts, column_mismatch_counts
from pyspark_datacol_diff_spark.operators import checked_long
from pyspark_datacol_diff_spark.operators import diff as DIFF_OPS
from pyspark_datacol_diff_spark.operators import dedup as DD
from pyspark_datacol_diff_spark.operators import similarity as SIM
from pyspark_datacol_diff_spark import sources as SRC
from pyspark_datacol_diff_spark import streaming as STR
from pyspark_datacol_diff_spark.operators import asof as ASOF
from pyspark_datacol_diff_spark.operators import range_join as RJ
from pyspark_datacol_diff_spark.operators import sampling as SAMP
from pyspark_datacol_diff_spark.operators import multimodal as MM
from pyspark_datacol_diff_spark.operators import skew as SKEW
from pyspark_datacol_diff_spark.operators import text as TX
from pyspark_datacol_diff_spark.operators import cluster as CC
from pyspark_datacol_diff_spark.operators import incremental as INC
from pyspark_datacol_diff_spark.operators import fuzzy as FZ
from pyspark_datacol_diff_spark.operators import quality as QA
from pyspark_datacol_diff_spark.operators import corpus as CP
from pyspark_datacol_diff_spark.operators import cooccur as CO
from pyspark_datacol_diff_spark.operators import prune as PR
from pyspark_datacol_diff_spark.operators import histogram as HG
from pyspark_datacol_diff_spark.operators import sketch as SK


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return SRC.read_parquet_table(spark, sf_dir, name)


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# diff fixtures: deterministic perturbed pairs, expressible identically in
# Spark and ANSI SQL (FIXTURES.md §3)
# ---------------------------------------------------------------------------

def _orders_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s1 = o.filter(k % 101 != 0)
    s2 = (
        o.filter(k % 97 != 0)
        .withColumn(
            "o_custkey",
            F.when(k % 11 == 0, F.col("o_custkey") + 1000000).otherwise(
                F.col("o_custkey")
            ),
        )
        .withColumn(
            "o_orderstatus",
            F.when(k % 13 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(k % 7 == 0, F.concat(F.col("o_orderpriority"), F.lit("!"))).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )
    return s1, s2


# Matching CTE prelude for the DuckDB oracle (same mutations, same drops).
_ORDERS_PAIR_SQL = """
WITH s1 AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0),
s2 AS (SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice, o_orderdate,
         CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority || '!' ELSE o_orderpriority END AS o_orderpriority
       FROM orders WHERE o_orderkey % 97 <> 0),
j AS (SELECT s1.o_orderkey AS k1, s2.o_orderkey AS k2,
             s1.o_custkey AS c1, s2.o_custkey AS c2,
             s1.o_orderstatus AS st1, s2.o_orderstatus AS st2,
             s1.o_totalprice AS tp1, s2.o_totalprice AS tp2,
             s1.o_orderdate AS od1, s2.o_orderdate AS od2,
             s1.o_orderpriority AS pr1, s2.o_orderpriority AS pr2
      FROM s1 FULL OUTER JOIN s2 ON s1.o_orderkey = s2.o_orderkey)
"""

# Null-safe any-column-differs predicate (strings use the reference's
# null=='' compat semantics, matching diff()'s default).
_ORDERS_DIFF_PRED = (
    "(c1 IS DISTINCT FROM c2) OR (coalesce(st1,'') <> coalesce(st2,'')) "
    "OR (tp1 IS DISTINCT FROM tp2) OR (od1 IS DISTINCT FROM od2) "
    "OR (coalesce(pr1,'') <> coalesce(pr2,''))"
)

_ORDERS_FLAG_SQL = f"""
CASE WHEN k2 IS NULL THEN 'S1_ONLY'
     WHEN k1 IS NULL THEN 'S2_ONLY'
     WHEN {_ORDERS_DIFF_PRED} THEN ''
     ELSE 'NODIFF' END
"""


def _digest_tree_side_sql(side: str, tag: str) -> str:
    """One side's 3-level digest tree (fanout 8, 64 leaves) as CTEs —
    the DuckDB replay of operators/diff.py:digest_tree on the perturbed
    orders pair: leaf = md5(pk) % 64, row hash = 60-bit md5 of the
    canonical row string (chr(0) null sentinel, chr(1) separator —
    identical to the Spark side's concat_ws construction)."""
    return f"""
h{tag} AS (
  SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 64 AS node,
         ('0x' || substr(md5(concat_ws(chr(1),
             coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
             coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
             coalesce(o_orderstatus, chr(0)),
             coalesce(o_orderpriority, chr(0)))), 1, 15))::BIGINT AS h
  FROM {side}),
l{tag} AS (
  SELECT node, count(*) AS n,
         CAST(sum(h) % 1000000000000000000 AS BIGINT) AS d
  FROM h{tag} GROUP BY node),
m{tag} AS (
  SELECT node // 8 AS node, CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(d) % 1000000000000000000 AS BIGINT) AS d
  FROM l{tag} GROUP BY 1),
r{tag} AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(d) % 1000000000000000000 AS BIGINT) AS d
  FROM m{tag}),
t{tag} AS (
  SELECT 2 AS level, node, n, d FROM l{tag}
  UNION ALL SELECT 1, node, n, d FROM m{tag}
  UNION ALL SELECT 0, node, n, d FROM r{tag})"""


_SQL_DIGEST_TREE_ORDERS = (
    _ORDERS_PAIR_SQL
    + ","
    + _digest_tree_side_sql("s1", "a")
    + ","
    + _digest_tree_side_sql("s2", "b")
    + """
SELECT coalesce(ta.level, tb.level) AS level,
       coalesce(ta.node, tb.node) AS node,
       CAST(coalesce(ta.n, 0) AS BIGINT) AS n1,
       CAST(coalesce(tb.n, 0) AS BIGINT) AS n2,
       CAST(coalesce(ta.d, 0) AS BIGINT) AS d1,
       CAST(coalesce(tb.d, 0) AS BIGINT) AS d2,
       (coalesce(ta.n, 0) <> coalesce(tb.n, 0)
        OR coalesce(ta.d, 0) <> coalesce(tb.d, 0)) AS differs
FROM ta FULL OUTER JOIN tb
  ON ta.level = tb.level AND ta.node = tb.node
"""
)


def _lineitem_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    li = _t(spark, sf_dir, "lineitem")
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    s1 = li.filter(ok % 89 != 0)
    s2 = (
        li.filter(ok % 83 != 0)
        .withColumn(
            "l_returnflag",
            F.when((ok + ln) % 17 == 0, F.lit("Z")).otherwise(F.col("l_returnflag")),
        )
        .withColumn(
            "l_suppkey",
            F.when((ok * 7 + ln) % 19 == 0, F.col("l_suppkey") + 500).otherwise(
                F.col("l_suppkey")
            ),
        )
        .withColumn(
            "l_discount",
            F.when((ok + ln) % 23 == 0, F.col("l_discount") + F.lit(0.01)).otherwise(
                F.col("l_discount")
            ),
        )
    )
    return s1, s2


_LINEITEM_PAIR_SQL = """
WITH s1 AS (SELECT * FROM lineitem WHERE l_orderkey % 89 <> 0),
s2 AS (SELECT l_orderkey, l_partkey,
         CASE WHEN (l_orderkey * 7 + l_linenumber) % 19 = 0 THEN l_suppkey + 500 ELSE l_suppkey END AS l_suppkey,
         l_linenumber, l_quantity, l_extendedprice,
         CASE WHEN (l_orderkey + l_linenumber) % 23 = 0 THEN l_discount + 0.01 ELSE l_discount END AS l_discount,
         l_tax,
         CASE WHEN (l_orderkey + l_linenumber) % 17 = 0 THEN 'Z' ELSE l_returnflag END AS l_returnflag,
         l_linestatus, l_shipdate
       FROM lineitem WHERE l_orderkey % 83 <> 0),
j AS (SELECT s1.l_orderkey AS k1a, s1.l_linenumber AS k1b,
             s2.l_orderkey AS k2a, s2.l_linenumber AS k2b,
             s1.l_suppkey AS sk1, s2.l_suppkey AS sk2,
             s1.l_returnflag AS rf1, s2.l_returnflag AS rf2,
             s1.l_discount AS dc1, s2.l_discount AS dc2,
             s1.l_partkey AS pk1, s2.l_partkey AS pk2,
             s1.l_quantity AS q1, s2.l_quantity AS q2,
             s1.l_extendedprice AS ep1, s2.l_extendedprice AS ep2,
             s1.l_tax AS tx1, s2.l_tax AS tx2,
             s1.l_linestatus AS ls1, s2.l_linestatus AS ls2,
             s1.l_shipdate AS sd1, s2.l_shipdate AS sd2
      FROM s1 FULL OUTER JOIN s2
        ON s1.l_orderkey = s2.l_orderkey AND s1.l_linenumber = s2.l_linenumber)
"""

_LINEITEM_DIFF_PRED = (
    "(sk1 IS DISTINCT FROM sk2) OR (coalesce(rf1,'') <> coalesce(rf2,'')) "
    "OR (dc1 IS DISTINCT FROM dc2) OR (pk1 IS DISTINCT FROM pk2) "
    "OR (q1 IS DISTINCT FROM q2) OR (ep1 IS DISTINCT FROM ep2) "
    "OR (tx1 IS DISTINCT FROM tx2) OR (coalesce(ls1,'') <> coalesce(ls2,'')) "
    "OR (sd1 IS DISTINCT FROM sd2)"
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_diff_orders_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded per-column mismatches of the perturbed orders pair.
    explode() drops unmatched rows' empty arrays for free."""
    s1, s2 = _orders_pair(spark, sf_dir)
    d = diff(s1, s2, ["o_orderkey"])
    return d.select(
        F.col("o_orderkey_s1").alias("o_orderkey"), F.explode("CompColArr").alias("e")
    ).select(
        "o_orderkey",
        F.col("e.col_name").alias("col_name"),
        F.col("e.s1_value").alias("s1_value"),
        F.col("e.s2_value").alias("s2_value"),
    )


def _q_diff_orders_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1, s2 = _orders_pair(spark, sf_dir)
    return flag_counts(diff(s1, s2, ["o_orderkey"]))


def _q_diff_orders_col_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unsorted: the driver compare is order-insensitive; only the pandas
    # facade (compute_dataframe_diff) sorts its n_cols-row summary
    s1, s2 = _orders_pair(spark, sf_dir)
    return column_mismatch_counts(diff(s1, s2, ["o_orderkey"]))


def _q_diff_drilldown_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README's interactive drill-down (README.md:53):
    filter diff rows where a SPECIFIC column mismatched via
    array_contains over the nested col_name field, then surface that
    column's s1/s2 values out of the struct array."""
    s1, s2 = _orders_pair(spark, sf_dir)
    d = diff(s1, s2, ["o_orderkey"])
    hit = d.filter(
        F.array_contains(F.col("CompColArr.col_name"), "o_orderstatus")
    )
    entry = F.element_at(
        F.filter("CompColArr", lambda e: e["col_name"] == F.lit("o_orderstatus")),
        1,
    )
    return hit.select(
        F.col("o_orderkey_s1").alias("o_orderkey"),
        entry["s1_value"].alias("s1_value"),
        entry["s2_value"].alias("s2_value"),
    )


def _q_diff_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key diff at lineitem granularity (the sf0.1 bench diff)."""
    s1, s2 = _lineitem_pair(spark, sf_dir)
    return flag_counts(diff(s1, s2, ["l_orderkey", "l_linenumber"]))


def _q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape; DECIMAL-exact aggregates emitted as BIGINTs."""
    _register_views(spark, sf_dir)
    return spark.sql(_Q1_SQL)


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS sum_disc_e4,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) * 1000000 AS BIGINT) AS sum_charge_e6,
       CAST(FLOOR(SUM(l_quantity) * 100.0 / COUNT(*)) AS BIGINT) AS avg_qty_cents,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS revenue_e4
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_e4 DESC, l_orderkey
LIMIT 10
"""


def _q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi == EXISTS: customers holding at least one 'F' order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def _q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti == NOT EXISTS: customers with no orders at all."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


def _q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer — rank window, deterministic
    tie-break on the key. o_totalprice passes through un-aggregated
    (identical parquet bits both sides)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn", "o_totalprice")
    )


def _q_agg_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + count / count-distinct / exact-decimal sum."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_cents"),
        )
    )


def _q_rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(_ROLLUP_SQL)


_ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS cnt
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def _q_setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(_EXCEPT_SQL)


_EXCEPT_SQL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 3
"""


def _q_setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(_INTERSECT_SQL)


_INTERSECT_SQL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
"""


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream table (batch
    shape of the streaming operator; see streaming/windowed.py)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
            .cast("long")
            .alias("value_e4"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def _q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("short_name"),
        F.substring("c_name", 10, 8).alias("name_tail"),
        F.concat_ws("-", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nat"
        ),
    )


def _q_zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key over (user_id, exact cents) — the layout key
    behind write_zordered_parquet: bit-interleaving makes one sorted
    layout serve range predicates on EITHER dimension. Pure long bit
    arithmetic; the oracle replays the identical shift/mask cascade."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return e.filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        SRC.morton_key(F.col("user_id"), cents).alias("zkey"),
    )


def _sql_zorder_key_events() -> str:
    from pyspark_datacol_diff_spark.sources import _MORTON_MASKS

    stages = ["SELECT event_id, user_id & 2147483647 AS a, "
              "CAST(round(value * 100) AS BIGINT) & 2147483647 AS b "
              "FROM events WHERE event_id % 3 = 0"]
    for shift, mask in _MORTON_MASKS:
        stages.append(
            f"SELECT event_id, (a | (a << {shift})) & {mask} AS a, "
            f"(b | (b << {shift})) & {mask} AS b FROM s{len(stages) - 1}"
        )
    ctes = ",\n".join(
        f"s{i} AS ({q})" for i, q in enumerate(stages)
    )
    return (
        f"WITH {ctes}\n"
        f"SELECT event_id, a | (b << 1) AS zkey FROM s{len(stages) - 1}"
    )


def _q_digest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-column table digest over an engine-exact
    projection of orders (keys/strings as-is, date and money projected
    to exact string forms) — the pre-diff equality gate: digest both
    snapshots nightly, run the full diff only on digest mismatch. One
    scan, map-side unpivot, one column-keyed aggregate.
    balance_partitions is warranted: the per-cell md5 runs BEFORE the
    aggregate's shuffle, and a single-file scan would do all of it on
    one task (measured 2.4x at sf0.1)."""
    from pyspark_datacol_diff_spark.operators.diff import table_digest

    o = SRC.balance_partitions(_t(spark, sf_dir, "orders")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").cast("string").alias("o_date_str"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    return table_digest(o)


def _q_date_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function breadth over event timestamps: calendar parts,
    ISO-adjusted day-of-week, week truncation, day arithmetic, month-end
    — one codegen'd projection, no shuffle. (Spark's dayofweek is
    1=Sunday..7; the oracle replays DuckDB's 0=Sunday..6 plus one.)"""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    d = F.col("ts").cast("date")
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("dom"),
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.date_trunc("week", "ts").alias("week_start"),
        F.datediff(d, F.lit("1996-01-01").cast("date")).alias("days_since"),
        # DATE emitted as midnight TIMESTAMP: pandas serializes Spark
        # dates as python objects but engine dates as datetime64, which
        # breaks value comparison despite equal values
        F.last_day(d).cast("timestamp").alias("month_end"),
    )


def _q_array_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function breadth: per line, build the
    1..quantity integer sequence and reduce it with filter / transform /
    aggregate / position / contains — all evaluated inside the scan
    stage (arrays never shuffle; only integer scalars leave the
    projection)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    qty = F.col("l_quantity").cast("int")
    arr = F.sequence(F.lit(1), qty)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qty.alias("qty"),
        F.size(F.filter(arr, lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            F.transform(arr, lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
        F.array_position(arr, 5).alias("pos_of_5"),
        F.array_contains(arr, 7).alias("has_7"),
        F.element_at(F.reverse(arr), 1).alias("last_rev"),
    )


def _q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose lineitems sum past a quantity
    threshold, joined back to customer. The HAVING side aggregates
    lineitem FIRST (map-side partial sums shrink the shuffle to one row
    per order), and the qualifying-order set — tiny after the filter —
    broadcast-joins into orders/customer: the aggregate acts as a
    semi-join reducer, never a fact x fact shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty"))
        .filter(F.col("__qty") > 250)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            (F.col("__qty") * 100).cast("long").alias("sum_qty_e2"),
        )
    )
    # big is ORDERKEY-grain (fact-grain behind a selective HAVING): its
    # size scales with the data, so no forced broadcast — AQE picks
    # from the measured post-filter size. The customer dim stays hinted.
    return (
        o.join(big, "o_orderkey")
        .join(F.broadcast(c.select("c_custkey", "c_name")), o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "sum_qty_e2")
    )


def _q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems with quantity below 20% of their part's
    average, revenue rolled up per brand. The correlated scalar subquery
    (avg qty per part) becomes an aggregate-then-join: lineitem reduces to
    one (sum, count) row per part — map-side partials shrink the shuffle —
    and joins back on l_partkey, the same key the fact would shuffle on
    anyway. The threshold predicate is evaluated in integer space
    (``5*qty*cnt < sum``) instead of ``qty < 0.2*avg``: quantities are
    integral, so cross-multiplying removes the float divide and the
    engine-dependent rounding that comes with it. Part is a broadcast dim.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("long").alias("qty"),
        "l_extendedprice",
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count("*").alias("cnt_qty")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(per_part, "l_partkey")
        .filter(F.lit(5) * F.col("qty") * F.col("cnt_qty") < F.col("sum_qty"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_small"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
    )


def _q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: suppliers whose quarterly revenue equals the
    global maximum — the max-of-an-aggregate scalar subquery. The
    revenue aggregate reduces lineitem to supplier grain (map-side
    combined); the max is then an aggregate OVER that aggregate — a
    1-row relation broadcast back as the filter (never a window over
    all suppliers, which would single-partition the comparison). Ties
    all surface, as in the spec. Revenue in exact DECIMAL e4 so the
    equality join is integer-exact cross-engine. Supplier names attach
    by broadcast at the very end, winners-only."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    rev = li.groupBy("l_suppkey").agg(
        (F.sum(amount) * 10000).cast("long").alias("total_revenue_e4")
    )
    mx = rev.agg(F.max("total_revenue_e4").alias("__mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_e4") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_e4")
    )


_SQL_Q15_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(5,4)))) * 10000 AS BIGINT)
           AS total_revenue_e4
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_e4
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)
"""


def _q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of AMERICA's ECONOMY-part
    order volume per year — the conditional-aggregation ratio. Both the
    CASE-gated numerator and the denominator come out of ONE aggregate
    pass over the joined slice (never two scans or a self-join); dims
    broadcast; the share itself is left to the caller as exact e4
    integer numerator/denominator, because emitting the float division
    would hash-drift cross-engine. Year extraction groups the pruned
    order slice, pushed predicates on date/type/region."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n_cust = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cust_nk"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    sliced = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cust_nk"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("supp_nk"))
    )
    return sliced.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", amount).otherwise(
                F.lit(0).cast("decimal(18,2)")
            ))
            * 10000
        )
        .cast("long")
        .alias("nation3_volume_e4"),
        (F.sum(amount) * 10000).cast("long").alias("total_volume_e4"),
    )


_SQL_Q8_MARKET_SHARE = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN ns.n_name = 'NATION_3'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(5,4)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT)
         AS nation3_volume_e4,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(5,4)))) * 10000 AS BIGINT)
         AS total_volume_e4
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
JOIN orders ON l_orderkey = o_orderkey
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'AMERICA'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
GROUP BY 1
"""


def _copurchase_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    min_orders: int = 2,
    cap: int | None = None,
) -> DataFrame:
    """Shared co-purchase pair builder for the whole graph family
    (pair mining, pagerank/ppr/wpagerank, k-core, k-hop): part pairs
    co-occurring in >= ``min_orders`` orders as ``(p1 < p2,
    n_orders)``.

    Promoted to the package in r08 (VERDICT r07 #8): delegates to
    operators/cooccur.py:basket_pairs, the public face library users
    call for the same mining. Its docstring holds the scale shape (one
    order-keyed ``collect_set`` shuffle, a repartition before the pair
    expansion, ``suffix_pairs`` for the i < j pairs, a pair-keyed hash
    aggregate) and the hot-basket ``cap`` bias contract, which the
    capped oracle mirrors with a rank <= cap predicate. TPC-H orders
    carry <= 7 lines, so the uncapped default is exact there.
    """
    li = _t(spark, sf_dir, "lineitem")
    return CO.basket_pairs(
        li, "l_orderkey", "l_partkey",
        min_count=min_orders, cap=cap, count_col="n_orders",
    )


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, *, weighted: bool = False
) -> DataFrame:
    """Symmetrized co-purchase edge list (src, dst[, n_orders]) over
    the shared pair relation — the input every graph-family query
    feeds to its operator."""
    return CO.symmetric_edges(
        _copurchase_pairs(spark, sf_dir),
        weight_cols=["n_orders"] if weighted else None,
    )


def _q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part pairs co-occurring in >= 2
    orders. The scalable shape is basket-explode, NOT a fact self-join:
    each order reduces to its sorted distinct item array (ONE
    order-keyed shuffle — collect_set deduplicates per order with
    map-side partial sets, so no separate distinct pass), ordered
    pairs (i < j) stream out of a posexplode plus suffix-slice explode
    of that array (no second shuffle, no items x items join), and the pair
    counts hash-aggregate on the pair key. Per-row work is quadratic
    in BASKET size — fine
    for order-shaped baskets (max 11 here); web-session baskets need a
    hot-basket cap (slice the array, same move as ngram_jaccard's
    max_df) before the pair expansion. The DuckDB oracle takes the
    classic self-join route — two independent formulations agreeing is
    the point."""
    return _copurchase_pairs(spark, sf_dir)


def _q_copurchase_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-basket-capped pair mining (_copurchase_pairs with cap=5):
    only each order's 5 smallest part ids enter the quadratic pair
    expansion, bounding per-basket work at min(s, cap)^2 — the guard a
    real basket table needs before someone points the graph family at
    power-law baskets (the VERDICT r06 skewed-basket demand). The bias
    is deterministic (pairs wholly beyond the cap are dropped) and
    mirrored exactly in the oracle's rank-<=-cap predicate, so the
    driver hash-verifies the capped semantics end to end."""
    return _copurchase_pairs(spark, sf_dir, cap=5)


def _q_copurchase_triples_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frequent ITEMSET mining one level deeper than pairs: part
    triples co-occurring in >= 2 orders, enumerated inside each
    hot-basket-capped basket (cap=5 -> at most C(5,3)=10 triples per
    order, the bound that makes cubic per-basket work safe on power-law
    baskets). Same basket-explode shape as _copurchase_pairs — one
    order-keyed shuffle, per-row nested transforms, triple-keyed hash
    aggregate; the oracle takes the classic 3-way self-join route, so
    two independent formulations must agree. Promoted to the package
    in r08: delegates to operators/cooccur.py:basket_triples."""
    li = _t(spark, sf_dir, "lineitem")
    return CO.basket_triples(
        li, "l_orderkey", "l_partkey",
        min_count=2, cap=5, count_col="n_orders",
    )


_SQL_COPURCHASE_TRIPLES_CAPPED = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ranked AS (
  SELECT l_orderkey, l_partkey,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_partkey) AS rn
  FROM items),
capped AS (SELECT l_orderkey, l_partkey FROM ranked WHERE rn <= 5),
triples AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3
  FROM capped a
  JOIN capped b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
  JOIN capped c ON b.l_orderkey = c.l_orderkey
               AND b.l_partkey < c.l_partkey
)
SELECT p1, p2, p3, count(*) AS n_orders
FROM triples GROUP BY 1, 2, 3 HAVING count(*) >= 2
"""


def _q_prefix_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity join
    (operators/dedup.py:prefix_jaccard_pairs — the AllPairs/PPJoin
    candidate bound): word-3-gram-set Jaccard >= 0.8 pairs over the
    FULL shingle universe, no max_df frequency cut — the exact-full-
    semantics high-threshold companion to ngram_jaccard_docs (whose
    max_df prunes hot shingles by contract). 0.8 is the operator's
    intended regime: prefix length ~(1-t)|s|, so the inverted index
    carries ~20% of each doc's shingles and the PPJoin positional/
    length filters kill most of the remainder before the verify. The oracle is the
    brute-force posting-list SQL, so a missed prefix candidate is a
    missing row the hash catches."""
    d = _t(spark, sf_dir, "documents")
    return DD.prefix_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.8
    ).select("id_a", "id_b", "inter_cnt", "size_a", "size_b")


_SQL_PREFIX_JACCARD_DOCS = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
g AS (SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      FROM w, unnest(range(1, len(ws) - 1)) t(i)),
sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_cnt
  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, CAST(inter_cnt AS BIGINT) AS inter_cnt,
       CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE inter_cnt / (sa.sz + sb.sz - inter_cnt) >= 0.8
"""


def _q_ttr_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio (operators/corpus.py:
    type_token_ratio) — lexical diversity as exact integers (types,
    tokens, ttr_ppm via integer DIV): the cheap repetitive-boilerplate
    signal next to repetition_docs/text_quality_docs. One explode +
    two-level aggregate; shuffle is per-source-vocabulary-sized."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return CP.type_token_ratio(d, "text", ["source"])


_SQL_TTR_BY_SOURCE_DOCS = r"""
WITH tok AS (
  SELECT source, lower(t.tok) AS token
  FROM documents,
       unnest(string_split_regex(trim(text), '\s+')) AS t(tok)
  WHERE t.tok != ''),
per AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_ppm
FROM per GROUP BY source
"""


def _q_decayed_score_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially TIME-DECAYED activity score
    (operators/incremental.py:decayed_sum): half-life one day,
    computed as exact integer ARITHMETIC right-shifts
    (shiftright(round(value*100), age_days) — FLOOR division by 2^age,
    the convention both engines' shifts share on negative values; age
    anchored at the data's own max date) — the
    freshness/recency weighting a ranking pipeline wants, with none of
    the float pow() drift that breaks hash oracles. One map-combined
    aggregate + a 1-row broadcast anchor."""
    e = _t(spark, sf_dir, "events")
    return INC.decayed_sum(e, ["user_id"], "ts", "value")


# round-HALF-EVEN replay of Spark's bround(x): DuckDB's round() on
# DOUBLE rounds half AWAY from zero (round(-0.5) = -1, round(0.5) = 1)
# — a divergence the r08 negative-value boundary rows caught — so exact
# halves are resolved to the even neighbor explicitly; (f%2+2)%2 maps
# negative odd floors to 1 (DuckDB % keeps the dividend sign).
_SQL_BROUND = (
    "CASE WHEN ({x}) - floor({x}) = 0.5 THEN "
    "CAST(floor({x}) AS BIGINT) + (CAST(floor({x}) AS BIGINT) % 2 + 2) % 2 "
    "ELSE CAST(round({x}) AS BIGINT) END"
)

_SQL_DECAYED_SCORE_USERS = f"""
WITH anc AS (SELECT max(CAST(ts AS DATE)) AS a FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(
         {_SQL_BROUND.format(x="value * 100")} >> greatest(
            least(datediff('day', CAST(ts AS DATE), a), 62), 0)
       ) AS BIGINT) AS decayed_q
FROM events, anc
GROUP BY user_id
"""


def _q_er_score_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution SCORING over sorted-neighborhood candidates
    (the verify stage after fuzzy.py:sorted_neighborhood_pairs
    generates them): each candidate part pair gets an integer
    Fellegi-Sunter-style agreement weight — 4 for brand, 3 for type,
    2 for size, 1 for exact price cents — and pairs scoring >= 4
    survive.
    Candidates ride the one per-block sorted exchange; attributes
    attach with two keyed joins against the part dimension (id-keyed,
    broadcast-eligible); the score itself is pure Column arithmetic.
    Exact integers end to end."""
    p = _t(spark, sf_dir, "part")
    cand = FZ.sorted_neighborhood_pairs(
        p.select("p_partkey", "p_name"), "p_partkey", "p_name", window=3
    ).select("id_a", "id_b")
    attrs = p.select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.expr("CAST(bround(p_retailprice * 100) AS BIGINT)").alias(
            "p_cents"
        ),
    )
    a = attrs.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"),
        F.col("p_cents").alias("cents_a"),
    )
    b = attrs.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_type").alias("type_b"),
        F.col("p_size").alias("size_b"),
        F.col("p_cents").alias("cents_b"),
    )
    score = (
        F.when(F.col("brand_a") == F.col("brand_b"), 4).otherwise(0)
        + F.when(F.col("type_a") == F.col("type_b"), 3).otherwise(0)
        + F.when(F.col("size_a") == F.col("size_b"), 2).otherwise(0)
        + F.when(F.col("cents_a") == F.col("cents_b"), 1).otherwise(0)
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("score", score.cast("long"))
        .filter(F.col("score") >= 4)
        .select("id_a", "id_b", "score")
    )


def _q_attribution_user_clicks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution
    (operators/range_join.py:position_attribution): each user's click
    stream sessionizes at 30-min inactivity (gaps-and-islands — one
    keyed window sort, tiebreak by event_id under duplicate
    timestamps), then every session's 1,000,000 ppm of credit splits
    40/20/40 first/middles/last in EXACT integer arithmetic with the
    middle pool's division remainder folded into the first touch — so
    per-session credits always sum to exactly 1e6 (float attribution
    never adds up; this replays hash-identically). No joins, no
    session-grain shuffle back."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    r = RJ.position_attribution(
        e, ["user_id"], "ts", gap_minutes=30, tiebreak_cols=["event_id"]
    )
    return r.select(
        "user_id",
        "event_id",
        F.col("session_no").cast("long").alias("session_no"),
        F.col("touch_no").cast("long").alias("touch_no"),
        F.col("n_touches").cast("long").alias("n_touches"),
        "credit_ppm",
    )


_SQL_ATTRIBUTION_USER_CLICKS = """
WITH c AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click'),
b AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, sum(brk) OVER w AS session_no
      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
p AS (SELECT user_id, event_id, session_no,
             row_number() OVER w2 AS touch_no,
             count(*) OVER (PARTITION BY user_id, session_no) AS n
      FROM s WINDOW w2 AS (PARTITION BY user_id, session_no
                           ORDER BY ts, event_id))
SELECT user_id, event_id,
       CAST(session_no AS BIGINT) AS session_no,
       CAST(touch_no AS BIGINT) AS touch_no,
       CAST(n AS BIGINT) AS n_touches,
       CAST(CASE WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN touch_no = 1
                   THEN 400000 + (200000 - (200000 // (n - 2)) * (n - 2))
                 WHEN touch_no = n THEN 400000
                 ELSE 200000 // (n - 2) END AS BIGINT) AS credit_ppm
FROM p
"""


def _q_common_neighbors_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Common-neighbor link prediction
    (operators/cluster.py:common_neighbor_candidates) over the
    co-purchase graph: for every non-adjacent part pair sharing
    co-purchase neighbors, count the shared neighbors and keep each
    part's top-5 (count DESC, id ASC) — the "bought alongside the same
    parts" recommender candidate stage. Neighbor lists gathered per
    node with a degree cap of 100 before the quadratic wedge
    expansion (the hot-basket move), existing edges removed with one
    anti join; exact integers end to end, oracle replays the cap via
    a rank <= 100 predicate."""
    pairs = _copurchase_pairs(spark, sf_dir)
    r = CC.common_neighbor_candidates(
        pairs, src_col="p1", dst_col="p2", k=5, max_degree=100
    )
    return r.select(
        F.col("node").alias("part"), "candidate", "common_cnt", "rank"
    )


_SQL_COMMON_NEIGHBORS_COPURCHASE = """
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
und AS (SELECT p1 AS s, p2 AS d FROM prs
        UNION ALL SELECT p2, p1 FROM prs),
capped AS (
  SELECT s, d FROM (
    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) AS rn
    FROM und) WHERE rn <= 100),
wedges AS (
  SELECT a.d AS u, b.d AS v
  FROM capped a JOIN capped b ON a.s = b.s AND a.d < b.d),
cn AS (SELECT u, v, count(*) AS common_cnt FROM wedges GROUP BY 1, 2),
cand AS (
  SELECT cn.u, cn.v, cn.common_cnt FROM cn
  LEFT JOIN prs ON cn.u = prs.p1 AND cn.v = prs.p2
  WHERE prs.p1 IS NULL),
orient AS (SELECT u AS node, v AS candidate, common_cnt FROM cand
           UNION ALL SELECT v, u, common_cnt FROM cand),
ranked AS (
  SELECT node, candidate, common_cnt,
         row_number() OVER (PARTITION BY node
                            ORDER BY common_cnt DESC, candidate) AS rank
  FROM orient)
SELECT node AS part, candidate, CAST(common_cnt AS BIGINT) AS common_cnt,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def _q_mutual_knn_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction
    (operators/similarity.py:mutual_knn_pairs): reciprocal top-5
    cosine edges over the vec_id % 5 node subset — the kNN-graph
    symmetrization step that drops one-way hub edges before
    clustering. Rank ordering rides the ann family's (sim DESC, id)
    convention so the float path hash-replays; the mutuality join runs
    on the compact ids-only edge list."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return SIM.mutual_knn_pairs(emb, 5)


_SQL_MUTUAL_KNN_EMBED = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id % 5 = 0),
scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         list_cosine_similarity(b.e, a.e) AS sim
  FROM v a, v b WHERE a.vec_id <> b.vec_id),
ranked AS (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sim DESC, nid) AS rk
  FROM scored),
knn AS (SELECT qid, nid FROM ranked WHERE rk <= 5)
SELECT a.qid AS id_a, a.nid AS id_b
FROM knn a JOIN knn b ON a.qid = b.nid AND a.nid = b.qid
WHERE a.qid < a.nid
"""


def _q_streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained Markov transition counts
    (streaming/continuous_transitions) — the first ORDER-SENSITIVE
    continuous fold: the event log is split into three TIME-CONTIGUOUS
    micro-batches (stage_time_splits — arrival order = event order,
    the landing-zone contract), and foreachBatch stitches each user's
    frontier row onto the batch before the lag window, so every
    cross-batch step the per-batch lag would drop is counted. The
    oracle is the SAME SQL as markov_transitions_events: streaming ==
    batch equivalence for a non-commutative stateful operator is the
    contract, and any dropped batch-boundary transition flips n on at
    least one (from, to) row and fails the hash."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_time_splits(batch, "ts", 3, tiebreak_cols=["event_id"])
    sdf = STR.read_parquet_stream(
        spark, src, batch.schema, max_files_per_trigger=1
    ).transform(SRC.normalize_event_ts)
    return STR.continuous_transitions(
        sdf,
        ["user_id"],
        "ts",
        "event_type",
        tiebreak_cols=["event_id"],
        query_name="q_stream_transitions",
    )


def _q_assoc_rules_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules over the co-purchase baskets
    (operators/cooccur.py:association_rules riding the r08-promoted
    basket_pairs public API): both directed rules per surviving pair
    with exact truncating-ppm confidence and a DECIMAL(38,0)-DIV lift
    (same 128-bit truncation semantics as DuckDB HUGEINT //) — the
    market-basket recommendation score. Pair support from the shared
    basket-explode miner; item-grain marginals equi-joined with the
    strategy left to AQE (r09: no forced broadcast of an unbounded
    item domain) and the scalar basket total broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    return CO.association_rules(li, "l_orderkey", "l_partkey")


_SQL_ASSOC_RULES_COPURCHASE = """
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_ab
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
marg AS (SELECT l_partkey AS item, count(*) AS n_item FROM base GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_groups FROM base),
orient AS (SELECT p1 AS antecedent, p2 AS consequent, n_ab FROM prs
           UNION ALL SELECT p2, p1, n_ab FROM prs)
SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(ma.n_item AS BIGINT) AS n_ante,
       CAST(mc.n_item AS BIGINT) AS n_cons,
       CAST(n_ab * 1000000 // ma.n_item AS BIGINT) AS confidence_ppm,
       CAST(n_ab::HUGEINT * n_groups * 1000000 //
            (ma.n_item::HUGEINT * mc.n_item) AS BIGINT) AS lift_ppm
FROM orient
JOIN marg ma ON orient.antecedent = ma.item
JOIN marg mc ON orient.consequent = mc.item
CROSS JOIN tot
"""


def _q_markov_transitions_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams (operators/range_join.py:transition_counts): consecutive
    event-type steps per user ordered by (ts, event_id), counted, and
    row-normalized in exact truncating ppm — the next-event-prediction
    / journey-drop-off primitive next to event_paths (which collects
    whole paths) and pmi_event_pairs (unordered co-occurrence). One
    keyed window sort; the aggregate is state-pair-grain; totals
    broadcast back."""
    e = _t(spark, sf_dir, "events")
    return RJ.transition_counts(
        e, ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"]
    )


_SQL_MARKOV_TRANSITIONS_EVENTS = """
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_state,
         event_type AS to_state
  FROM events),
counts AS (
  SELECT from_state, to_state, count(*) AS n
  FROM steps WHERE from_state IS NOT NULL
  GROUP BY 1, 2),
tot AS (SELECT from_state, sum(n) AS n_from FROM counts GROUP BY 1)
SELECT counts.from_state, to_state, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // n_from AS BIGINT) AS p_ppm
FROM counts JOIN tot ON counts.from_state = tot.from_state
"""


def _q_ra_link_pred_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Resource-allocation link prediction
    (operators/cluster.py:resource_allocation_candidates — Zhou/Lü/
    Zhang's degree-discounted common-neighbor index, exact integer
    ppm): each wedge center contributes 1e6 DIV deg(center), so a
    shared rare neighbor outvotes a shared hub — the ranking upgrade
    over raw common_neighbors_copurchase on the same capped wedge
    machinery (full degree for the discount, max_degree=100 slice for
    the quadratic expansion, anti join vs existing edges, top-5 per
    node by (ra_ppm DESC, candidate))."""
    pairs = _copurchase_pairs(spark, sf_dir)
    r = CC.resource_allocation_candidates(
        pairs, src_col="p1", dst_col="p2", k=5, max_degree=100
    )
    return r.select(
        F.col("node").alias("part"), "candidate", "ra_ppm",
        "common_cnt", "rank",
    )


_SQL_RA_LINK_PRED_COPURCHASE = """
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
und AS (SELECT p1 AS s, p2 AS d FROM prs
        UNION ALL SELECT p2, p1 FROM prs),
deg AS (SELECT s, count(DISTINCT d) AS deg FROM und GROUP BY s),
capped AS (
  SELECT s, d FROM (
    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) AS rn
    FROM und) WHERE rn <= 100),
wedges AS (
  SELECT a.s AS c, a.d AS u, b.d AS v
  FROM capped a JOIN capped b ON a.s = b.s AND a.d < b.d),
ra AS (SELECT u, v,
         sum(1000000 // deg.deg) AS ra_ppm,
         count(*) AS common_cnt
       FROM wedges JOIN deg ON wedges.c = deg.s
       GROUP BY 1, 2),
cand AS (
  SELECT ra.u, ra.v, ra.ra_ppm, ra.common_cnt FROM ra
  LEFT JOIN prs ON ra.u = prs.p1 AND ra.v = prs.p2
  WHERE prs.p1 IS NULL),
orient AS (SELECT u AS node, v AS candidate, ra_ppm, common_cnt FROM cand
           UNION ALL SELECT v, u, ra_ppm, common_cnt FROM cand),
ranked AS (
  SELECT node, candidate, ra_ppm, common_cnt,
         row_number() OVER (PARTITION BY node
                            ORDER BY ra_ppm DESC, candidate) AS rank
  FROM orient)
SELECT node AS part, candidate, CAST(ra_ppm AS BIGINT) AS ra_ppm,
       CAST(common_cnt AS BIGINT) AS common_cnt,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def _q_edge_jaccard_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structural similarity of every EXISTING co-purchase edge
    (operators/cluster.py:edge_structural_similarity): open-
    neighborhood Jaccard in exact truncating ppm — the SCAN-family
    edge weight separating intra-community edges from bridges, on the
    same capped wedge machinery as the link predictors (max_degree=100
    slice before the quadratic expansion, FULL degrees for the
    denominator, semi-orientation inner join keeps existing edges,
    zero-common bridges kept via the left join)."""
    pairs = _copurchase_pairs(spark, sf_dir)
    return CC.edge_structural_similarity(
        pairs, src_col="p1", dst_col="p2", max_degree=100
    )


_SQL_EDGE_JACCARD_COPURCHASE = """
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
und AS (SELECT p1 AS s, p2 AS d FROM prs
        UNION ALL SELECT p2, p1 FROM prs),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s),
capped AS (
  SELECT s, d FROM (
    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) AS rn
    FROM und) WHERE rn <= 100),
wedges AS (
  SELECT a.d AS u, b.d AS v
  FROM capped a JOIN capped b ON a.s = b.s AND a.d < b.d),
cn AS (SELECT u, v, count(*) AS common_cnt FROM wedges GROUP BY 1, 2)
SELECT e.p1, e.p2,
       CAST(coalesce(cn.common_cnt, 0) AS BIGINT) AS common_cnt,
       CAST(d1.deg AS BIGINT) AS deg1,
       CAST(d2.deg AS BIGINT) AS deg2,
       CAST(coalesce(cn.common_cnt, 0) * 1000000 //
            (d1.deg + d2.deg - coalesce(cn.common_cnt, 0)) AS BIGINT)
         AS jaccard_ppm
FROM prs e
LEFT JOIN cn ON e.p1 = cn.u AND e.p2 = cn.v
JOIN deg d1 ON e.p1 = d1.s
JOIN deg d2 ON e.p2 = d2.s
"""


def _q_hits_parts_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HITS authority scores over the customer->part bipartite
    incidence (operators/cluster.py:hits_bipartite, 2 iterations,
    exact unnormalized integers in DECIMAL(38,0)): a part's score
    weights each buyer by that buyer's own purchasing breadth — the
    endorsement-weighted popularity ranking one step past raw degree.
    Incidence = orders x lineitem distinct (custkey, partkey); final
    scores cast to BIGINT through operators.checked_long, which RAISES
    on overflow instead of non-ANSI's silent NULL (scores grow like
    degree^iterations — bounded well inside int64 at <= 2 iterations
    and driver scales, but a quiet NULL would corrupt a parity compare
    at larger ones; the 128-bit internal keeps the ITERATION exact)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    inc = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
    )
    r = CC.hits_bipartite(inc, hub_col="cust", auth_col="part", iterations=2)
    return r.select(
        F.col("auth").alias("part"),
        checked_long(F.col("score"), context="HITS score").alias("score"),
    )


_SQL_HITS_PARTS_CUSTOMERS = """
WITH inc AS (
  SELECT DISTINCT o_custkey AS h, l_partkey AS a
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
a1 AS (SELECT a, count(*) AS s FROM inc GROUP BY a),
h1 AS (SELECT h, sum(s) AS hs FROM inc JOIN a1 USING (a) GROUP BY h),
a2 AS (SELECT a, sum(hs) AS s FROM inc JOIN h1 USING (h) GROUP BY a)
SELECT a AS part, CAST(s AS BIGINT) AS score FROM a2
"""


def _q_skipgram_pmi_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram token co-occurrence with exact-integer PMI lift
    (operators/corpus.py:skipgram_pairs, window=2, min_count=25) —
    the word2vec-equivalent collocation statistic (Levy & Goldberg's
    SGNS-factorized matrix): in-row pair expansion (no join before the
    count), vocabulary-grain marginals equi-joined back with the
    strategy left to AQE (never a forced broadcast of an unbounded
    token domain), scalar pair total broadcast, 128-bit DECIMAL lift
    with the same truncation as DuckDB HUGEINT //."""
    d = _t(spark, sf_dir, "documents")
    return CP.skipgram_pairs(d, "text", window=2, min_count=25)


_SQL_SKIPGRAM_PMI_DOCS = """
WITH t AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
p AS (
  SELECT tk[i] AS a, tk[i + j] AS b
  FROM t, LATERAL unnest(range(1, len(tk) + 1)) AS r(i),
       LATERAL unnest(range(1, 3)) AS s(j)
  WHERE i + j <= len(tk)),
c AS (SELECT a, b, count(*) AS n_ab FROM p GROUP BY 1, 2),
sa AS (SELECT a, sum(n_ab) AS n_a FROM c GROUP BY a),
tb AS (SELECT b, sum(n_ab) AS n_b FROM c GROUP BY b),
tot AS (SELECT sum(n_ab) AS n_pairs FROM c)
SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_ab::HUGEINT * n_pairs * 1000000 //
            (n_a::HUGEINT * n_b) AS BIGINT) AS lift_ppm
FROM c JOIN sa USING (a) JOIN tb USING (b) CROSS JOIN tot
WHERE n_ab >= 25
"""


def _q_phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-aligned phrase search
    (operators/corpus.py:phrase_match_stats, phrase "table scan"):
    in-row alignment scan over each doc's token array — no join, no
    shuffle, filter and projection push to the parquet scan; emits
    per-doc match count and first 0-based token offset."""
    d = _t(spark, sf_dir, "documents")
    return CP.phrase_match_stats(d, "doc_id", "text", ["table", "scan"])


_SQL_PHRASE_SEARCH_DOCS = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
m AS (
  SELECT doc_id, i
  FROM t, LATERAL unnest(range(1, len(tk))) AS r(i)
  WHERE tk[i] = 'table' AND tk[i + 1] = 'scan')
SELECT doc_id, count(*) AS n_matches,
       CAST(min(i) - 1 AS BIGINT) AS first_pos
FROM m GROUP BY doc_id
"""


def _q_seasonality_lift_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hour-of-week seasonality lift per event type
    (operators/range_join.py:seasonality_lift): observed cell count
    over the independence expectation in exact truncating ppm — one
    cell-grain aggregate over the stream, marginals aggregated from
    the cell relation and broadcast back. Hour-of-week anchors on
    Sunday 00:00 (Spark dayofweek 1 = Sunday; DuckDB dayofweek 0 =
    Sunday — the oracle replays the same anchor)."""
    e = _t(spark, sf_dir, "events")
    return RJ.seasonality_lift(e, "ts", "event_type")


_SQL_SEASONALITY_LIFT_EVENTS = """
WITH cells AS (
  SELECT event_type AS type,
         CAST(dayofweek(ts) * 24 + hour(ts) AS BIGINT) AS how,
         count(*) AS n
  FROM events GROUP BY 1, 2),
bt AS (SELECT type, sum(n) AS n_type FROM cells GROUP BY type),
bh AS (SELECT how, sum(n) AS n_hour FROM cells GROUP BY how),
tot AS (SELECT sum(n) AS n_total FROM cells)
SELECT type, how, CAST(n AS BIGINT) AS n,
       CAST(n::HUGEINT * n_total * 1000000 //
            (n_type::HUGEINT * n_hour) AS BIGINT) AS lift_ppm
FROM cells JOIN bt USING (type) JOIN bh USING (how) CROSS JOIN tot
"""


def _q_streaming_seasonality_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuously-maintained seasonality cells
    (streaming/continuous_rollup keyed on (type, hour-of-week), three
    disjoint micro-batches folded into the versioned parquet state)
    with the lift computed FROM THE STATE
    (operators/range_join.py:seasonality_lift_from_cells) — the
    monitoring deployment of the r08 seasonality operator: per batch
    the work is one cell-grain aggregate + a |cells|-row merge, the
    event history is never rescanned, and the lift read off the state
    must equal the one-shot batch computation (the oracle is the SAME
    SQL as seasonality_lift_events — streaming == batch is the
    contract)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_disjoint_splits(batch, "event_id", 3)
    sdf = (
        STR.read_parquet_stream(
            spark, src, batch.schema, max_files_per_trigger=1
        )
        .transform(SRC.normalize_event_ts)
        .select(
            F.col("event_id"),
            F.col("event_type").alias("type"),
            RJ.hour_of_week("ts").alias("how"),
        )
    )
    state = STR.continuous_rollup(
        sdf,
        ["type", "how"],
        {"n": ("event_id", "count")},
        query_name="q_stream_seasonality",
    )
    return RJ.seasonality_lift_from_cells(state)


def _q_session_error_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-overlap join
    (operators/range_join.py:interval_overlap_join): every user
    session (native 30-min session_window, end = last event + gap)
    overlapped against the GLOBAL error-burst hours (hours with >= 3
    error events), with the exact overlap in microseconds — the
    incident-exposure correlation a theta join can't do at scale. Both
    interval sets explode to hour buckets, the join is an equi-join on
    the bucket, and multi-bucket pairs dedup by the overlap-START
    ownership rule (no distinct). Oracle: gaps-and-islands sessions +
    a plain inequality join (DuckDB joins the small relation
    directly)."""
    e = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    sess = (
        e.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
        )
    )
    bursts = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h_start"))
        .agg(F.count(F.lit(1)).alias("n_err"))
        .filter(F.col("n_err") >= 3)
        .select(
            "h_start",
            (F.col("h_start") + F.expr("INTERVAL 1 HOUR")).alias("h_end"),
        )
    )
    j = RJ.interval_overlap_join(
        sess,
        bursts,
        left_start="s_start",
        left_end="s_end",
        right_start="h_start",
        right_end="h_end",
        right_cols=["h_start"],
        bucket_seconds=3600,
        suffix="",
    )
    return j.select("user_id", "s_start", "s_end", "h_start", "overlap_us")


_SQL_SESSION_ERROR_OVERLAP = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM x
), sess AS (
  SELECT user_id, min(ts) AS s_start,
         max(ts) + INTERVAL 30 MINUTE AS s_end
  FROM s GROUP BY user_id, sid
), b AS (
  SELECT date_trunc('hour', ts) AS h_start
  FROM events WHERE event_type = 'error'
  GROUP BY 1 HAVING count(*) >= 3
)
SELECT user_id, s_start, s_end, h_start,
       CAST(epoch_us(least(s_end, h_start + INTERVAL 1 HOUR)) -
            epoch_us(greatest(s_start, h_start)) AS BIGINT) AS overlap_us
FROM sess JOIN b ON s_start < h_start + INTERVAL 1 HOUR AND h_start < s_end
"""


def _q_quantile_rank_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type exact quantile-rank transform
    (operators/histogram.py:quantile_rank): every event's value
    rewritten as its empirical percentile within its event type in
    integer ppm — PERCENT_RANK with min-rank ties, float-free. The
    prefix-sum window runs over the DISTINCT (type, cents) relation
    (value-cardinality-sized), never the row stream; rows re-join on
    the same key they aggregated on."""
    e = _t(spark, sf_dir, "events")
    c = e.filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    return HG.quantile_rank(c, ["event_type"], "cents").select(
        "event_id", "event_type", "cents", "pr_ppm"
    )


_SQL_QUANTILE_RANK_EVENTS = """
WITH c AS (
  SELECT event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
vc AS (SELECT event_type, cents, count(*) AS cnt FROM c GROUP BY 1, 2),
pre AS (
  SELECT event_type, cents,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) - cnt AS lt
  FROM vc),
tot AS (SELECT event_type, sum(cnt) AS n FROM vc GROUP BY 1)
SELECT event_id, c.event_type, c.cents,
       CAST(CASE WHEN n > 1 THEN lt * 1000000 // (n - 1) ELSE 0 END
            AS BIGINT) AS pr_ppm
FROM c
JOIN pre ON c.event_type = pre.event_type AND c.cents = pre.cents
JOIN tot ON c.event_type = tot.event_type
"""


def _q_vocab_growth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (operators/corpus.py:vocab_growth,
    10 id-range buckets): per-slice token volume, first-appearance new
    types, cumulative vocabulary — the Heaps'-law "is more data still
    buying vocabulary" curve. One vocabulary-sized min-bucket
    aggregate; the only window is over the 10-row result."""
    d = _t(spark, sf_dir, "documents")
    return CP.vocab_growth(d, "doc_id", "text", n_buckets=10)


_SQL_VOCAB_GROWTH_DOCS = """
WITH b AS (SELECT max(doc_id) AS max_id FROM documents),
toks AS (
  SELECT CAST(doc_id * 10 // (max_id + 1) AS BIGINT) AS bucket,
         t.tok AS token
  FROM documents, b,
       LATERAL unnest(list_filter(
         regexp_split_to_array(trim(lower(text)), '\\s+'),
         x -> x <> '')) AS t(tok)),
vol AS (SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY 1),
fs AS (SELECT token, min(bucket) AS bucket FROM toks GROUP BY 1),
nt AS (SELECT bucket, count(*) AS new_types FROM fs GROUP BY 1)
SELECT vol.bucket, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY vol.bucket)
            AS BIGINT) AS cum_types
FROM vol LEFT JOIN nt ON vol.bucket = nt.bucket
"""


def _q_ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic between the
    click and view value distributions
    (operators/quality.py:ks_statistic): sup-norm CDF distance as a
    cross-multiplied integer max in ppm — the unbinned upgrade over
    distribution_drift's fixed bins. One distinct-cents prefix-sum
    window (value-cardinality-sized by design) + a 1-row max."""
    e = _t(spark, sf_dir, "events")
    c = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    return QA.ks_statistic(c, "event_type", "cents", "click", "view")


_SQL_KS_DRIFT_EVENTS = """
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
vc AS (
  SELECT cents,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
  FROM c GROUP BY 1),
cum AS (
  SELECT sum(ca) OVER (ORDER BY cents) AS cum_a,
         sum(cb) OVER (ORDER BY cents) AS cum_b
  FROM vc),
tot AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM vc)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(max(abs(cum_a::HUGEINT * n_b - cum_b::HUGEINT * n_a)
                * 1000000 // (n_a::HUGEINT * n_b)) AS BIGINT) AS ks_ppm
FROM cum CROSS JOIN tot GROUP BY n_a, n_b
"""


def _q_mutual_knn_ivf_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph via the IVF PRODUCTION path (r08 — VERDICT r07
    #1/#2: the one embedding family whose only edge source was the
    all-pairs broadcast crossJoin now has a bucketed scale path):
    operators/similarity.py:mutual_knn_pairs(method="ivf") — integer-
    exact Lloyd cells (nlist=8, 2 iterations) assign every vector and
    rank every query's nprobe=5 probe cells as zero-shuffle centroid-
    literal projections; candidates come from ONE cell-keyed equi-join
    (no crossJoin anywhere in the plan), cosine is scored over the
    same quantized integers the assignment used, and the reciprocal
    semi-join keeps mutual top-5 edges. Every step — quantization,
    seeds, refits, probe order, the (sim DESC, id) rank — replays
    bit-for-bit in the unrolled SQL oracle; recall vs the exact
    baseline is gated separately by mutual_knn_ivf_recall."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return SIM.mutual_knn_pairs(
        emb, 5, method="ivf", nlist=8, nprobe=5, iterations=2
    )


def _sql_mutual_knn_ivf_embed(
    nlist: int = 8, iterations: int = 2,
    dim: int = 64, nprobe: int = 5, k: int = 5, mod: int = 5,
) -> str:
    """Full replay of the IVF mutual-kNN path: the shared unrolled
    kmeans chain (same seeds/refits/tie-breaks) over the bounded
    subset, probe cells ranked by (exact int distance, cell),
    candidates from the cell join, cosine from the exact int64 dot
    over IEEE-double norms, (sim DESC, id) top-k, reciprocal join."""
    src = f"(SELECT * FROM embeddings WHERE vec_id % {mod} = 0)"
    parts, n_assign = _kmeans_cte_parts(nlist, iterations, dim, src=src)
    parts.append(f""",
fin AS (SELECT vec_id, qv, cell,
          CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum')
               AS BIGINT) AS n2
        FROM a{n_assign}),
nz AS (SELECT * FROM fin WHERE n2 > 0),
qd AS (SELECT f.vec_id AS qid, c.cell,
          list_aggregate(list_transform(list_zip(f.qv, c.cv),
            p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d
       FROM nz f CROSS JOIN c{iterations} c),
pc AS (SELECT qid, cell FROM (
         SELECT qid, cell,
                row_number() OVER (PARTITION BY qid ORDER BY d, cell) AS rn
         FROM qd) WHERE rn <= {nprobe}),
sc AS (SELECT q.vec_id AS qid, f.vec_id AS nid,
          CAST(list_aggregate(list_transform(list_zip(q.qv, f.qv),
            z -> z[1] * z[2]), 'sum') AS BIGINT) AS dq,
          q.n2 AS na2, f.n2 AS nb2
       FROM nz q JOIN pc ON pc.qid = q.vec_id
       JOIN nz f ON f.cell = pc.cell AND f.vec_id <> q.vec_id),
top AS (SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid
            ORDER BY CAST(dq AS DOUBLE) /
                     sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)) DESC,
            nid) AS rn
          FROM sc) WHERE rn <= {k})
SELECT f.qid AS id_a, f.nid AS id_b
FROM top f JOIN top r ON f.qid = r.nid AND f.nid = r.qid
WHERE f.qid < f.nid""")
    return "".join(parts)


def _q_mutual_knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the IVF mutual-kNN production path (the
    hard_negatives_ivf_recall pattern): exact mutual pairs (the
    declared crossJoin baseline) and IVF mutual pairs computed side by
    side, recall pinned >= 60% by integer cross-multiplication
    (measured 0.809 at sf0.001, 0.799 at sf0.01, 0.762 at sf0.1 with
    nlist=8/nprobe=5 — near-uniform synthetic embeddings are the hard
    case; the >= 0.16 margin keeps the gate off the boundary). The
    oracle pins n_exact to the exact-path SQL's pair count and
    recall_ok TRUE."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    exact = SIM.mutual_knn_pairs(emb, 5)
    ivf = SIM.mutual_knn_pairs(
        emb, 5, method="ivf", nlist=8, nprobe=5, iterations=2
    )
    m = exact.withColumn("in_e", F.lit(1)).join(
        ivf.withColumn("in_i", F.lit(1)), ["id_a", "id_b"], "left"
    )
    n_exact = F.coalesce(F.sum("in_e"), F.lit(0))
    hits = F.coalesce(F.sum("in_i"), F.lit(0))
    return m.agg(
        n_exact.cast("long").alias("n_exact"),
        (hits * 100 >= n_exact * 60).alias("recall_ok"),
    )


_SQL_MUTUAL_KNN_IVF_RECALL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
FROM ({_SQL_MUTUAL_KNN_EMBED.strip()})
"""


def _q_labelprop_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round semi-supervised label propagation
    (operators/cluster.py:label_propagation) over the co-purchase
    graph: parts with partkey % 10 == 0 are seeded with label
    partkey % 7; two clamped rounds spread labels by exact-integer
    majority vote (ties to the smallest label) — the seed-expansion
    classifier a curation pipeline runs to grow a small labeled set
    along the co-occurrence graph. The oracle unrolls both rounds."""
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seeds = nodes.filter(F.col("node") % 10 == 0).select(
        "node", (F.col("node") % 7).alias("label")
    )
    r = CC.label_propagation(edges, seeds, rounds=2)
    return r.select(
        F.col("node").alias("part"),
        F.col("label").cast("long").alias("label"),
        F.col("round").cast("long").alias("round"),
    )


def _sql_labelprop_copurchase(rounds: int = 2) -> str:
    parts = ["""
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT p1 AS src, p2 AS dst FROM prs
          UNION ALL SELECT p2, p1 FROM prs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node % 7 AS label, 0 AS round FROM nodes
       WHERE node % 10 = 0)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
v{r} AS (
  SELECT e.dst AS node, l.label, count(*) AS cnt
  FROM edges e JOIN l{r - 1} l ON e.src = l.node
  WHERE e.dst NOT IN (SELECT node FROM l{r - 1})
  GROUP BY 1, 2),
w{r} AS (
  SELECT node, label, {r} AS round FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label) AS rn
    FROM v{r}) WHERE rn = 1),
l{r} AS (SELECT * FROM l{r - 1} UNION ALL SELECT * FROM w{r})""")
    parts.append(f"""
SELECT node AS part, CAST(label AS BIGINT) AS label,
       CAST(round AS BIGINT) AS round
FROM l{rounds}""")
    return "".join(parts)


_SQL_LABELPROP_COPURCHASE = _sql_labelprop_copurchase()


_SQL_ER_SCORE_PARTS = """
WITH b AS (
  SELECT p_partkey AS id_a, p_name AS key_a,
         substring(p_name, 1, 1) AS blk
  FROM part),
r AS (
  SELECT *, row_number() OVER (PARTITION BY blk ORDER BY key_a, id_a)
            AS rn
  FROM b),
cand AS (
  SELECT a.id_a, c.id_a AS id_b
  FROM r a JOIN r c
    ON a.blk = c.blk AND c.rn BETWEEN a.rn + 1 AND a.rn + 3),
scored AS (
  SELECT cand.id_a, cand.id_b,
         (CASE WHEN pa.p_brand = pb.p_brand THEN 4 ELSE 0 END
          + CASE WHEN pa.p_type = pb.p_type THEN 3 ELSE 0 END
          + CASE WHEN pa.p_size = pb.p_size THEN 2 ELSE 0 END
          + CASE WHEN CAST(round(pa.p_retailprice * 100) AS BIGINT)
                 = CAST(round(pb.p_retailprice * 100) AS BIGINT)
            THEN 1 ELSE 0 END
         ) AS score
  FROM cand
  JOIN part pa ON cand.id_a = pa.p_partkey
  JOIN part pb ON cand.id_b = pb.p_partkey)
SELECT id_a, id_b, CAST(score AS BIGINT) AS score
FROM scored WHERE score >= 4
"""


_SQL_COPURCHASE_PAIRS = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT p1, p2, count(*) AS n_orders
FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
"""

_SQL_COPURCHASE_PAIRS_CAPPED = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ranked AS (
  SELECT l_orderkey, l_partkey,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_partkey) AS rn
  FROM items),
capped AS (SELECT l_orderkey, l_partkey FROM ranked WHERE rn <= 5),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT p1, p2, count(*) AS n_orders
FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _q_dq_rules_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health (operators/quality.py:check_rules_by):
    the grouped rule report that says WHICH feed broke — three named
    rules over documents, one row per (source, rule), all evaluated in
    a single map-combined aggregate over one scan. NULL predicate
    results count as violations."""
    d = _t(spark, sf_dir, "documents")
    return QA.check_rules_by(
        d,
        ["source"],
        {
            "text_nonempty": F.length("text") > 0,
            "lang_known": F.col("lang").isin("en", "de", "fr", "es", "zh"),
            "chars_consistent": F.col("n_chars") == F.length("text"),
        },
    )


_SQL_DQ_RULES_BY_SOURCE_DOCS = """
WITH a AS (
  SELECT source, count(*) AS n_rows,
    CAST(SUM(CASE WHEN coalesce(length(text) > 0, FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v0,
    CAST(SUM(CASE WHEN coalesce(lang IN ('en','de','fr','es','zh'), FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v1,
    CAST(SUM(CASE WHEN coalesce(n_chars = length(text), FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v2
  FROM documents GROUP BY source
)
SELECT source, r.rule, a.n_rows, r.n_violations, r.n_violations = 0 AS passed
FROM a, LATERAL (
  SELECT 'text_nonempty' AS rule, v0 AS n_violations
  UNION ALL SELECT 'lang_known', v1
  UNION ALL SELECT 'chars_consistent', v2
) r
"""


def _q_user_trend_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise linear regression via moments — the churn-feature
    shape: each user's weekly activity counts fit a least-squares line,
    emitted as the slope's EXACT integer numerator/denominator
    (slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2); both terms are
    translation-invariant in x, so absolute epoch-week indexes work
    with no per-user centering pass). Two hash aggregates total —
    (user, week) counts, then per-user moment sums — no window, no
    join; the float division is the caller's, so the report is
    integer-exact cross-engine. Users active a single week emit
    slope_den = 0 (undefined trend, explicit not NULL-ish)."""
    e = _t(spark, sf_dir, "events")
    wk_x = (
        F.datediff(F.date_trunc("week", F.col("ts")), F.lit("1970-01-05"))
        / 7
    ).cast("long")
    weekly = (
        e.select("user_id", wk_x.alias("x"))
        .groupBy("user_id", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    m = weekly.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        "user_id",
        "n_weeks",
        (F.col("n_weeks") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "slope_num"
        ),
        (F.col("n_weeks") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "slope_den"
        ),
        "sy",
    )


_SQL_USER_TREND_FEATURES = """
WITH weekly AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-05',
                        CAST(date_trunc('week', ts) AS DATE)) / 7 AS BIGINT)
           AS x,
         count(*) AS y
  FROM events GROUP BY 1, 2
), m AS (
  SELECT user_id, count(*) AS n_weeks,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM weekly GROUP BY 1
)
SELECT user_id, n_weeks,
       CAST(n_weeks * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_weeks * sxx - sx * sx AS BIGINT) AS slope_den,
       sy
FROM m
"""


def _q_benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit
    (operators/quality.py:benford_first_digit) over order totals by
    status — the classic fraud/synthetic-data distribution screen.
    EXACT-INTEGER end to end: the first significant digit comes from
    the DECIMAL(18,4)-scaled integer's string rendering (never float
    log10 — last-ulp engine drift), and the per-digit share is ppm via
    truncated int64 division. One map-side-combined aggregate + a
    broadcast totals join; at most 9 rows per group."""
    o = _t(spark, sf_dir, "orders")
    return QA.benford_first_digit(
        o, "o_totalprice", group_by=["o_orderstatus"]
    )


_SQL_BENFORD_ORDERS = """
WITH d AS (
  SELECT o_orderstatus,
         CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4))
                * 10000 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders
  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) > 0),
c AS (SELECT o_orderstatus, digit, count(*) AS n FROM d GROUP BY 1, 2)
SELECT o_orderstatus, digit, CAST(n AS BIGINT) AS n,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY o_orderstatus)
            AS BIGINT) AS ppm
FROM c
"""


def _q_cusum_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential changepoint scores (operators/quality.py:cusum) over
    per-type hourly event counts: the one-sided CUSUM drift detector —
    ``s_i = max(0, s_{i-1} + (n_i - drift))`` — computed WITHOUT
    recursion via the closed form ``S_i - min(0, running min of S)``
    (two running windows sharing one keyed sort), exact int64 end to
    end. Grain cells with no events are skipped (resample first to
    densify); alarms flag sustained rate shifts, not isolated spikes."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return QA.cusum(
        hourly, ["event_type"], "hour", "n", drift=6, threshold=15
    )


_SQL_CUSUM_HOURLY_EVENTS = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, hour, n,
         sum(n - 6) OVER (PARTITION BY event_type ORDER BY hour) AS S
  FROM h),
m AS (
  SELECT event_type, hour, n, S,
         least(CAST(0 AS BIGINT),
               min(S) OVER (PARTITION BY event_type ORDER BY hour)) AS mn
  FROM s)
SELECT event_type, hour, CAST(n AS BIGINT) AS value,
       CAST(S - mn AS BIGINT) AS cusum,
       (S - mn) > 15 AS alarm
FROM m
"""


def _q_gini_event_mix_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity (operators/quality.py:
    gini_impurity): Gini impurity of each user's event-type mix — the
    exact-rational alternative to Shannon entropy (whose float logs
    carry engine-specific low bits): ``(T^2 - sum(c_i^2)) * 1e6 div
    T^2``, a polynomial in the counts, integer end to end. Two
    map-side-combined aggregates; the second moves one row per
    (user, event_type)."""
    e = _t(spark, sf_dir, "events")
    return QA.gini_impurity(e, ["user_id"], "event_type")


_SQL_GINI_EVENT_MIX_USERS = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2)
SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
       CAST(sum(c * c) AS BIGINT) AS sum_sq,
       CAST(((sum(c) * sum(c) - sum(c * c)) * 1000000)
            // (sum(c) * sum(c)) AS BIGINT) AS gini_ppm
FROM c GROUP BY user_id
"""


def _q_dq_rules_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report (operators/quality.py): five
    named row-level rules over orders evaluated in ONE map-combined
    aggregate over one scan — never a job per rule (the reference's
    n-jobs summary anti-pattern, fixed the same way its diff summary
    was). NULL predicate results count as violations. Includes a rule
    that genuinely fails (custkeys below 500) so the report exercises
    both outcomes; cross-row rules (uniqueness, referential) reuse the
    engine's keyed/anti-join shapes instead of hiding shuffles here."""
    o = _t(spark, sf_dir, "orders")
    rules = {
        "totalprice_positive": F.col("o_totalprice") > 0,
        "orderdate_in_range": (F.col("o_orderdate") >= "1990-01-01")
        & (F.col("o_orderdate") < "2010-01-01"),
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_not_null": F.col("o_orderpriority").isNotNull(),
        "custkey_below_500": F.col("o_custkey") < F.lit(500),
    }
    return QA.check_rules(o, rules)


_SQL_DQ_RULES_ORDERS = """
WITH a AS (
  SELECT count(*) AS n_rows,
    CAST(SUM(CASE WHEN coalesce(o_totalprice > 0, FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v0,
    CAST(SUM(CASE WHEN coalesce(o_orderdate >= '1990-01-01'
                           AND o_orderdate < '2010-01-01', FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v1,
    CAST(SUM(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v2,
    CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
             THEN 0 ELSE 1 END) AS BIGINT) AS v3,
    CAST(SUM(CASE WHEN coalesce(o_custkey < 500, FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v4
  FROM orders
)
SELECT r.rule, a.n_rows, r.n_violations, r.n_violations = 0 AS passed
FROM a, (
  SELECT 'totalprice_positive' AS rule, v0 AS n_violations FROM a
  UNION ALL SELECT 'orderdate_in_range', v1 FROM a
  UNION ALL SELECT 'status_known', v2 FROM a
  UNION ALL SELECT 'priority_not_null', v3 FROM a
  UNION ALL SELECT 'custkey_below_500', v4 FROM a
) r
"""


def _q_order_backlog_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting by differencing: how many orders
    were OPEN (placed, not yet fully shipped) in each week — every
    order contributes +1 at its open week and -1 the week after its
    last shipment, and the running sum of weekly deltas is the backlog
    curve. The running sum uses operators/incremental.py:running_total
    — the two-phase distributed prefix sum (year-bucketed local window
    + driver-gathered bucket offsets) — so there is NO single-partition
    global window anywhere (the linter-error shape this operator
    exists to replace). Deltas are grain-sized (two rows per order,
    aggregated to weeks) before any window sees them."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    close = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    b = o.join(close, F.col("o_orderkey") == F.col("l_orderkey"))
    deltas = b.select(
        F.date_trunc("week", "o_orderdate").alias("wk"), F.lit(1).alias("d")
    ).unionByName(
        b.select(
            (F.date_trunc("week", "last_ship") + F.expr("INTERVAL 7 DAYS")).alias(
                "wk"
            ),
            F.lit(-1).alias("d"),
        )
    )
    weekly = deltas.groupBy("wk").agg(F.sum("d").alias("d"))
    out = INC.running_total(
        weekly, "wk", "d", bucket=F.year("wk"), out_col="open_orders"
    )
    return out.select("wk", F.col("open_orders").cast("long").alias("open_orders"))


_SQL_ORDER_BACKLOG_WEEKLY = """
WITH b AS (
  SELECT o_orderkey, date_trunc('week', o_orderdate) AS wopen,
         date_trunc('week', max(l_shipdate)) + INTERVAL 7 DAY AS wclose
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderdate
), d AS (
  SELECT wopen AS wk, 1 AS d FROM b
  UNION ALL
  SELECT wclose AS wk, -1 AS d FROM b
), weekly AS (
  SELECT wk, sum(d) AS d FROM d GROUP BY wk
)
SELECT wk,
       CAST(sum(d) OVER (ORDER BY wk ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_orders
FROM weekly
"""


def _q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations per year, in
    both directions — the dual-nation OR-pair join filter
    ((supp=A and cust=B) or (supp=B and cust=A)) evaluated INSIDE the
    broadcast joins, never as a post-product filter. With Q15 and Q8
    this completes every TPC-H query expressible without partsupp.
    One fact-fact join (lineitem x orders); supplier/customer/nation
    broadcast; exact DECIMAL volume e4."""
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).select("n_nationkey", "n_name")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(amount) * 10000).cast("long").alias("volume_e4"))
    )


_SQL_Q7_VOLUME_SHIPPING = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(5,4)))) * 10000 AS BIGINT)
         AS volume_e4
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
  AND sn.n_name IN ('NATION_1', 'NATION_2')
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
  AND cn.n_name IN ('NATION_1', 'NATION_2')
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


def _q_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where the customer and the
    line's supplier sit in the same ASIA nation, one order-year slice.
    Six-table join with every dim broadcast (region->nation pre-reduced
    on the driver-free broadcast side, supplier and customer broadcast
    too at these SFs); the date predicate is pushed to the orders scan so
    the fact x fact lineitem join starts from the pruned order set. The
    same-nation constraint is an equi-condition (c_nationkey =
    s_nationkey) evaluated inside the join, not a post-filter over a
    wider product. Revenue in exact DECIMAL, emitted e4-scaled."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    return (
        li.join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(amount) * 10000).cast("long").alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders with at least one
    late-shipped line (EXISTS -> LEFT SEMI join with a non-equi residual;
    this testdata has no commit/receipt dates, so "late" is
    l_shipdate > o_orderdate). The semi join deduplicates in the join
    operator itself — no DISTINCT pass, no fan-out — and the date
    predicate prunes the orders scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_q12_late_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE aggregation over a fact-fact
    join — per line status, how many 1996 lines belong to critical
    (URGENT/HIGH) vs other orders. One equi-join on orderkey, one
    aggregate; the CASE sums are map-side partials, and the ship-date
    range prunes the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def _q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of brand/size/quantity
    conjunctions. The plan property under test: the common equi-key
    (partkey) drives ONE broadcast hash join and the whole disjunction
    evaluates as a residual filter — never a fallback to a nested-loop
    over the disjuncts. Revenue in exact DECIMAL, e4-scaled."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & qty.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & qty.between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & qty.between(20, 50))
    )
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            (F.sum(amount) * 10000).cast("long").alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape, deliberately phrased through the SQL FRONTEND
    (temp view + ``spark.sql``) to pin that surface too: pure
    scan-filter-aggregate with every predicate pushed to parquet.
    Revenue in exact DECIMAL e4 — price cents x discount hundredths
    stays integer-exact in both engines."""
    _register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(5,4))) * 10000 AS BIGINT)
                 AS revenue_e4,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
        """
    )


_SQL_Q6_FORECAST_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(5,4))) * 10000 AS BIGINT)
         AS revenue_e4,
       count(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
"""


def _q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter. Fact-fact equi-join (lineitem x orders) shuffles once
    on orderkey; customer and nation are broadcast dims; the final
    top-20 fuses into TakeOrderedAndProject (never a global sort).
    Money exact-integer end to end."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    ).select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = j.groupBy(
        "c_custkey",
        "c_name",
        "n_name",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
        .alias("acctbal_cents"),
    ).agg((F.sum(amount) * 10000).cast("long").alias("revenue_e4"))
    return agg.orderBy(F.desc("revenue_e4"), F.asc("c_custkey")).limit(20)


_SQL_Q10_RETURNED_ITEMS = """
SELECT c_custkey, c_name, n_name,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_cents,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))
            * 10000 AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
GROUP BY c_custkey, c_name, n_name, acctbal_cents
ORDER BY revenue_e4 DESC, c_custkey LIMIT 20
"""


def _q_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-vs-total revenue for one ship month.
    Emits the two sums as exact e4 integers instead of the spec's float
    percentage (the division is the caller's one cheap scalar op; the
    engine output stays engine-exact). Part is a broadcast dim; the
    date range prunes the lineitem scan; the conditional sum is a
    map-side partial."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    promo = F.col("p_type").startswith("PROMO")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.sum(F.when(promo, amount).otherwise(F.lit(0).cast("decimal(18,2)"))) * 10000)
            .cast("long").alias("promo_revenue_e4"),
            (F.sum(amount) * 10000).cast("long").alias("total_revenue_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_Q14_PROMO_EFFECT = """
SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(5,4))
                             - CAST(l_discount AS DECIMAL(5,4)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT)
         AS promo_revenue_e4,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))
            * 10000 AS BIGINT) AS total_revenue_e4,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1996-09-01' AND l_shipdate < '1996-10-01'
"""


def _q_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier failed order — the canonical EXISTS + NOT EXISTS
    double correlation, compiled to one left-semi and one left-anti join
    on the same orderkey partitioning ("late" adapted to
    l_shipdate > o_orderdate; no receipt/commit dates in this schema).
    Supplier is a broadcast dim; every self-correlation is equi-keyed on
    l_orderkey, so the fact shuffles once and reuses the partitioning
    across the semi, the anti, and the final count."""
    o_f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = li.join(
        o_f, F.col("l_orderkey") == F.col("o_orderkey")
    ).filter(F.col("l_shipdate") > F.col("o_orderdate"))
    cand = late.select("l_orderkey", "l_suppkey")
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    multi = cand.join(
        other,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    sole_late = multi.join(
        other_late,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def _q_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers. Orders aggregates FIRST (one row per
    custkey after the priority exclusion), then LEFT joins customer — the
    join input is the reduced aggregate, not the raw fact, and customers
    with no orders surface as count 0 via coalesce. Second aggregation
    groups the counts into the distribution. Two shuffles + one join,
    both keyed by custkey; at 100 TB the orders pre-aggregation is the
    only fact-sized exchange."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce("n_orders", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


def _q_q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balances
    and no URGENT order, rolled up by nation (every customer in the
    synthetic data has *some* order, so the anti-join side is the
    priority-filtered set). The global-average scalar subquery is a
    single-row aggregate cross-joined in (broadcast of one row); the NOT
    EXISTS is a left-anti join on custkey against the distinct urgent
    custkeys. The above-average predicate runs in exact
    cents-integer space (``bal_cents * n > sum_cents``), so Spark and any
    oracle agree on boundary rows regardless of float summation order."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    pos = c.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_cents"), F.count("*").alias("n_pos")
    )
    o_keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(o_keys, c["c_custkey"] == o_keys["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal_cents").alias("totacctbal_cents"),
        )
    )


def _q_map_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns end-to-end: per-user event profile built as a
    map<event_type, count> (groupBy + map_from_entries), then consumed
    via element_at / map_keys. The map is an intermediate the optimizer
    sees as one struct-array build — output surfaces deterministic
    scalars only (map iteration order never leaks into the result)."""
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    profiled = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "c"))
        ).alias("profile")
    )
    return profiled.select(
        "user_id",
        F.size(F.map_keys(F.col("profile"))).alias("n_types"),
        F.coalesce(F.element_at("profile", F.lit("click")), F.lit(0)).alias(
            "n_click"
        ),
        F.coalesce(F.element_at("profile", F.lit("purchase")), F.lit(0)).alias(
            "n_purchase"
        ),
    )


def _q_window_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows over orders per market segment: rank,
    dense_rank, and the distribution functions re-scaled into exact
    integer space — cume_dist*n = "rows at or below me" and
    percent_rank*(n-1) = rank-1 are integers by definition, so emitting
    the products instead of the float quotients keeps the oracle hash
    exact. One window partition (segment), one shuffle."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o["o_custkey"] == c["c_custkey"])
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("c_mktsegment").orderBy(cents)
    wn = Window.partitionBy("c_mktsegment")
    n = F.count(F.lit(1)).over(wn)
    return (
        j.select(
            "o_orderkey",
            "c_mktsegment",
            cents.alias("price_cents"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.cume_dist().over(w) * n).cast("long").alias("n_at_or_below"),
            F.round(F.percent_rank().over(w) * (n - 1)).cast("long").alias("rnk0"),
        )
        # sample AFTER the windows: ranks reflect the full partition
        .filter(F.col("o_orderkey") % 53 == 0)
    )


_PIVOT_STATUSES = ["F", "O", "P"]


def _q_pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts and revenue spread across order-status columns,
    one row per priority. The pivot values are passed EXPLICITLY — without
    the list Spark runs an extra distinct-collect job just to learn the
    column set, a hidden full scan at 100 TB. With values given, this is
    one hash aggregation (pivot_first partials), a single shuffle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _PIVOT_STATUSES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents"),
        )
    )


def _q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the four lineitem measures rotate into
    (metric, value) rows, then aggregate per metric. Values are
    integerized per-row BEFORE the unpivot (cents / basis points) so one
    long-typed value column carries all four measures exactly. Unpivot is
    a zero-shuffle Expand (each input row emits 4), and the per-metric
    aggregate reduces 4×N rows to 4 — partial aggregation does all the
    work map-side."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("discount_bp"),
        F.round(F.col("l_tax") * 10000).cast("long").alias("tax_bp"),
    )
    return (
        li.unpivot([], ["qty", "price_cents", "discount_bp", "tax_bp"],
                   "metric", "val")
        .groupBy("metric")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("total"))
    )


def _q_groupingsets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id: day×type detail plus per-day,
    per-type, and grand-total rows in ONE aggregation pass (Expand feeds
    each input row to every set; partial aggregation still applies).
    grouping_id disambiguates the null-vs-rolled-up cases exactly as the
    SQL-standard GROUPING() bitmask does."""
    e = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type"),
        F.round(F.col("value") * 10000).cast("long").alias("v_e4"),
    )
    return (
        e.groupingSets(
            [["day", "event_type"], ["day"], ["event_type"], []],
            "day", "event_type",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_e4").alias("value_e4"),
        )
    )


# --- extensions: dedup / text / similarity ---------------------------------

def _q_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: 5-table join (lineitem ⋈ orders ⋈ supplier ⋈
    part ⋈ nation) with dim sides broadcast, PROMO-part filter pushed to
    the part scan, profit in exact DECIMAL emitted e4-scaled. The big
    fact side shuffles only for the final (nation, year) aggregate —
    supplier/part/nation all broadcast at any scale factor."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(amount) * 10000).cast("long").alias("profit_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q_json_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parsing breadth: from_json (schema'd parse), get_json_object
    (path extraction), and map functions (create_map/element_at) over the
    events.props JSON column, reduced to one aggregate per event type.
    The oracle extracts the same values with DuckDB's json functions."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k int").getField("k").alias("k_parsed"),
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
    ).select(
        "event_type",
        "k_parsed",
        # map round-trip: build a map holding the parsed value, read it back
        F.element_at(
            F.create_map(F.lit("k"), F.col("k_parsed")), F.lit("k")
        ).alias("k_map"),
        "k_path",
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k_parsed").cast("long").alias("sum_k"),
        F.sum("k_map").cast("long").alias("sum_k_map"),
        F.min("k_path").alias("min_k"),
        F.max("k_path").alias("max_k"),
    )


def _q_rfm_segments_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary): per-user
    aggregates (one user-keyed shuffle), then the quartile fences come
    from ONE grouping-free aggregate that BROADCASTS back — the
    fences-side-broadcast shape, vs the ntile/window rewrite that
    global-sorts every user through one partition. Fence computation
    here is exact percentile_disc so both engines agree on edge
    BIGINTs bit-for-bit (ties bucket deterministically, <= goes low);
    note percentile_disc's own final merge holds an
    O(distinct metric values) count map in one task — exact is right
    for the oracle and fine to ~1e8 users, and the production swap at
    nearly-distinct billion-user scale is approx_percentile for the
    fences (same broadcast shape, sketch-sized state; bucket EDGES
    rarely need exactness). Emits the 4x4x4 cell counts —
    segment-grain, whatever the user count."""
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.max(F.unix_timestamp(F.col("ts").cast("timestamp"))).alias("last_s"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("cents"),
    )
    fences = per_user.agg(
        *[
            F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY {m})")
            .cast("long")
            .alias(f"{m}_q{int(q * 100)}")
            for m in ("last_s", "n_events", "cents")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def bucket(m: str) -> Column:
        return (
            F.when(F.col(m) <= F.col(f"{m}_q25"), 1)
            .when(F.col(m) <= F.col(f"{m}_q50"), 2)
            .when(F.col(m) <= F.col(f"{m}_q75"), 3)
            .otherwise(4)
        )

    return (
        per_user.crossJoin(F.broadcast(fences))
        .select(
            bucket("last_s").alias("r_bucket"),
            bucket("n_events").alias("f_bucket"),
            bucket("cents").alias("m_bucket"),
        )
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_SQL_RFM_SEGMENTS_EVENTS = """
WITH per_user AS (
  SELECT user_id,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS last_s,
         count(*) AS n_events,
         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
  FROM events GROUP BY user_id
), f AS (
  SELECT CAST(quantile_disc(last_s, 0.25) AS BIGINT) AS r25,
         CAST(quantile_disc(last_s, 0.50) AS BIGINT) AS r50,
         CAST(quantile_disc(last_s, 0.75) AS BIGINT) AS r75,
         CAST(quantile_disc(n_events, 0.25) AS BIGINT) AS f25,
         CAST(quantile_disc(n_events, 0.50) AS BIGINT) AS f50,
         CAST(quantile_disc(n_events, 0.75) AS BIGINT) AS f75,
         CAST(quantile_disc(cents, 0.25) AS BIGINT) AS m25,
         CAST(quantile_disc(cents, 0.50) AS BIGINT) AS m50,
         CAST(quantile_disc(cents, 0.75) AS BIGINT) AS m75
  FROM per_user
)
SELECT CASE WHEN last_s <= r25 THEN 1 WHEN last_s <= r50 THEN 2
            WHEN last_s <= r75 THEN 3 ELSE 4 END AS r_bucket,
       CASE WHEN n_events <= f25 THEN 1 WHEN n_events <= f50 THEN 2
            WHEN n_events <= f75 THEN 3 ELSE 4 END AS f_bucket,
       CASE WHEN cents <= m25 THEN 1 WHEN cents <= m50 THEN 2
            WHEN cents <= m75 THEN 3 ELSE 4 END AS m_bucket,
       count(*) AS n_users
FROM per_user, f
GROUP BY 1, 2, 3
"""


def _q_retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted per week-offset they return — the warehouse staple behind
    every retention curve. Plan: distinct (user, week) pairs first (the
    only data-sized aggregate), then the cohort week via a user-keyed
    window MIN over the already-tiny weekly relation — no join back to
    the event log, and the window partition is per-user-weeks (bounded),
    not a global sort. Week offsets are exact integers (both weeks are
    Monday-truncated, so datediff/7 is integral); cohort weeks emit as
    ISO date strings so both engines hash identically."""
    e = _t(spark, sf_dir, "events")
    weekly = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    w_user = Window.partitionBy("user_id")
    act = weekly.withColumn("cw", F.min("w").over(w_user))
    return (
        act.select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("cw")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_SQL_RETENTION_COHORTS_EVENTS = """
WITH weekly AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
), act AS (
  SELECT user_id, w, min(w) OVER (PARTITION BY user_id) AS cw FROM weekly
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cw, w) / 7 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM act GROUP BY 1, 2
"""


def _q_fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (operators/fuzzy.py): the part-name catalog
    matched against a noisy variant of itself — widget names get a
    1-edit typo (matched at max_dist=1), bolt names get 3 appended
    characters (pruned by the length band before levenshtein ever
    runs), everything else is unchanged (distance 0). Candidates exist
    only inside 4-char-prefix blocks joined as an ordinary equi join —
    no cross product; the oracle replays block + band + levenshtein
    verbatim."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    noisy = names.select(
        F.when(
            F.col("p_name").endswith("widget"),
            F.concat(
                F.expr("substring(p_name, 1, length(p_name) - 1)"), F.lit("x")
            ),
        )
        .when(F.col("p_name").endswith("bolt"), F.concat("p_name", F.lit("zzz")))
        .otherwise(F.col("p_name"))
        .alias("noisy_name")
    )
    return FZ.fuzzy_join(
        names, noisy, "p_name", "noisy_name", max_dist=1, block_len=4
    ).select("p_name", "noisy_name", "edit_dist")


_SQL_FUZZY_JOIN_PART_NAMES = """
WITH names AS (SELECT DISTINCT p_name FROM part),
noisy AS (
  SELECT CASE
           WHEN p_name LIKE '%widget'
             THEN substring(p_name, 1, length(p_name) - 1) || 'x'
           WHEN p_name LIKE '%bolt' THEN p_name || 'zzz'
           ELSE p_name
         END AS noisy_name
  FROM names
)
SELECT p_name, noisy_name,
       levenshtein(p_name, noisy_name) AS edit_dist
FROM names JOIN noisy
  ON substring(p_name, 1, 4) = substring(noisy_name, 1, 4)
WHERE abs(length(p_name) - length(noisy_name)) <= 1
  AND levenshtein(p_name, noisy_name) <= 1
"""


def _q_sorted_neighborhood_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood ER candidates
    (operators/fuzzy.py:sorted_neighborhood_pairs): part names paired
    with their next 3 neighbors in per-block sorted order (block =
    first character — the window is keyed, never a global sort), then
    levenshtein-verified at distance <= 4. The complementary blocking
    pass to fuzzy_join's prefix equality: near-keys that sort
    adjacently pair even when a 4-char prefix block would split them.
    One sorted exchange + a projection; no self-join."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_partkey", "p_name")
    return FZ.sorted_neighborhood_pairs(
        names, "p_partkey", "p_name", window=3, max_dist=4
    )


_SQL_SORTED_NEIGHBORHOOD_PARTS = """
WITH b AS (
  SELECT p_partkey AS id_a, p_name AS key_a,
         substring(p_name, 1, 1) AS blk
  FROM part),
r AS (
  SELECT *, row_number() OVER (PARTITION BY blk ORDER BY key_a, id_a)
            AS rn
  FROM b),
p AS (
  SELECT a.id_a, c.id_a AS id_b, a.key_a, c.key_a AS key_b
  FROM r a JOIN r c
    ON a.blk = c.blk AND c.rn BETWEEN a.rn + 1 AND a.rn + 3)
SELECT id_a, id_b, key_a, key_b,
       CAST(levenshtein(key_a, key_b) AS INTEGER) AS dist
FROM p WHERE levenshtein(key_a, key_b) <= 4
"""


def _q_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two order snapshots
    (operators/diff.py:distribution_drift) — the statistical complement
    of the row diff: s2 rewrites every 7th order's priority to
    1-URGENT, and the per-priority relative-frequency comparison flags
    exactly the buckets that moved more than 2 percentage points. The
    drift decision is exact integer cross-multiplication (no float), so
    the oracle replays it bit-for-bit. Two map-combined aggregates +
    a bin-grain join: data is scanned once per side, shuffled only as
    per-bin partials."""
    o = _t(spark, sf_dir, "orders")
    s1 = o.filter(F.col("o_orderkey") % 101 != 0)
    s2 = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("1-URGENT")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return DIFF_OPS.distribution_drift(
        s1, s2, F.col("o_orderpriority"), threshold_pct=2
    )


_SQL_DRIFT_ORDERS = """
WITH s1 AS (
  SELECT o_orderpriority AS bin FROM orders WHERE o_orderkey % 101 <> 0
), s2 AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN '1-URGENT'
              ELSE o_orderpriority END AS bin
  FROM orders WHERE o_orderkey % 97 <> 0
), a AS (SELECT bin, count(*) AS n1 FROM s1 GROUP BY 1),
   b AS (SELECT bin, count(*) AS n2 FROM s2 GROUP BY 1),
   j AS (SELECT coalesce(a.bin, b.bin) AS bin,
                coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
         FROM a FULL OUTER JOIN b ON a.bin = b.bin),
   t AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM j)
SELECT bin, n1, n2,
       100 * abs(n1 * t2 - n2 * t1) > 2 * t1 * t2 AS drifted
FROM j, t
"""


def _q_variant_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns via Spark 4's VariantType: parse_json
    once into a binary variant, then typed path reads (variant_get) —
    the open-schema path that replaces string re-parsing per access;
    a missing path reads as NULL through try_variant_get in both
    engines. Per-row projection, no shuffle; at scale variant beats
    get_json_object because the parse happens once and the binary
    encoding is column-prunable/shreddable."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        "event_type",
        F.variant_get(v, "$.k", "long").alias("k"),
        F.try_variant_get(v, "$.missing", "long").alias("k_missing"),
    )


_SQL_VARIANT_EVENTS_PROPS = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing
FROM events
"""


def _q_moments_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact second-moment (Gram) aggregate over lineitem's four
    numeric columns — the one-pass substrate of covariance /
    correlation / PCA at scale: n, per-column sums, squares, and all
    pairwise product sums, each an EXACT integer (values scaled to
    cents/e4, products summed in DECIMAL(38,0) vs DuckDB HUGEINT,
    emitted as digit strings so no float ever exists). Callers derive
    corr(a,b) = (n*s_ab - s_a*s_b) / sqrt((n*s_aa - s_a^2)(n*s_bb -
    s_b^2)) exactly. One grouping-free aggregate: map-side combined
    partials, the only exchange gathers one row — the same plan at
    100 TB."""
    l = _t(spark, sf_dir, "lineitem")
    cols = {
        "q": (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long"),
        "p": (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        "d": (F.col("l_discount").cast("decimal(18,4)") * 10000).cast("long"),
        "t": (F.col("l_tax").cast("decimal(18,4)") * 10000).cast("long"),
    }
    base = l.select(*[e.alias(k) for k, e in cols.items()])
    names = list(cols)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in names:
        aggs.append(
            F.sum(F.col(c).cast("decimal(38,0)")).cast("string").alias(f"s_{c}")
        )
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
                .cast("string")
                .alias(f"s_{a}{b}")
            )
    return base.agg(*aggs)


_SQL_MOMENTS_LINEITEM = """
WITH c AS (
  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
         CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS d,
         CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) AS t
  FROM lineitem
)
SELECT count(*) AS n_rows,
       CAST(SUM(CAST(q AS HUGEINT)) AS VARCHAR) AS s_q,
       CAST(SUM(CAST(p AS HUGEINT)) AS VARCHAR) AS s_p,
       CAST(SUM(CAST(d AS HUGEINT)) AS VARCHAR) AS s_d,
       CAST(SUM(CAST(t AS HUGEINT)) AS VARCHAR) AS s_t,
       CAST(SUM(CAST(q*q AS HUGEINT)) AS VARCHAR) AS s_qq,
       CAST(SUM(CAST(q*p AS HUGEINT)) AS VARCHAR) AS s_qp,
       CAST(SUM(CAST(q*d AS HUGEINT)) AS VARCHAR) AS s_qd,
       CAST(SUM(CAST(q*t AS HUGEINT)) AS VARCHAR) AS s_qt,
       CAST(SUM(CAST(p*p AS HUGEINT)) AS VARCHAR) AS s_pp,
       CAST(SUM(CAST(p*d AS HUGEINT)) AS VARCHAR) AS s_pd,
       CAST(SUM(CAST(p*t AS HUGEINT)) AS VARCHAR) AS s_pt,
       CAST(SUM(CAST(d*d AS HUGEINT)) AS VARCHAR) AS s_dd,
       CAST(SUM(CAST(d*t AS HUGEINT)) AS VARCHAR) AS s_dt,
       CAST(SUM(CAST(t*t AS HUGEINT)) AS VARCHAR) AS s_tt
FROM c
"""


def _q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping-set levels plus
    grouping_id to disambiguate subtotal rows from data nulls."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(20,2)")
        .cast("string")
        .alias("total_price"),
    )


def _q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return DD.exact_dup_groups(d, F.md5("text"), "doc_id", key_name="content_md5")


def _q_dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup (2-token md5) — produces real multi-row
    groups on the synthetic corpus, exercising representative election."""
    d = _t(spark, sf_dir, "documents")
    groups = DD.exact_dup_groups(
        d, DD.content_fingerprint("text", num_tokens=2), "doc_id", key_name="fp"
    )
    return groups.filter(F.col("cnt") > 1)


def _q_dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: odd-id docs arrive as today's batch,
    even-id docs' md5 fingerprints are the historical store; emit the
    genuinely novel batch rows (unseen content, first-in-batch). The
    in-batch survivor window and the left-anti store join share one hash
    partitioning on the fingerprint — the store side moves digests,
    never text."""
    d = _t(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    store = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("fp"))
    )
    out = DD.incremental_new(incoming, store, "doc_id", F.md5("text"), key_name="fp")
    return out.select("doc_id", "fp")


def _q_text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.char_count("text").alias("n_chars_calc"),
        TX.punct_count("text").alias("n_punct"),
        TX.stopword_hits("text").alias("stop_hits"),
        TX.is_english_like("text").alias("en_like"),
        TX.doc_fingerprint("text").alias("fp"),
    )


_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking (64-token windows, 8 overlap) — the
    context-window-bounded training-sample splitter. Zero shuffle:
    sequence/posexplode/slice evaluate inside the scan stage. Chunk text
    is emitted as md5 so the hashed output stays compact."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    ch = CP.chunk_tokens(d, "doc_id", "text", chunk_size=64, overlap=8)
    return ch.select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


def _q_vocab_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary — explode + map-side-combined hash agg
    (shuffle is vocabulary-sized, not corpus-sized), deterministic
    (cnt desc, token asc) order."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return CP.top_vocab(d, "text", 100)


def _q_pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (concat-and-cut at 512 tokens) across 32
    hash-bucketed independent packing streams — the training-sample
    densification step between dedup/filter and tokenization. One
    bucket-keyed shuffle; per-bucket sort + running sum; all-integer
    output replayed exactly by the windowed SQL oracle. No up-front
    rebalance: the operator's first move IS a shuffle on the bucket key,
    so a repartition before it would be pure overhead (it doubled wall
    time in BENCH_r03)."""
    d = _t(spark, sf_dir, "documents")
    p = CP.pack_sequences(
        d, "doc_id", "text", target_tokens=512, num_buckets=32
    )
    return p.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "bucket",
        "pack_no",
        "pack_offset",
    )


def _q_tfidf_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF (ratio-idf
    variant: tf/df ordering uses IEEE-exact division, so ranks replay
    bit-identically in the oracle; the log-idf variant is the library
    default). Shuffles carry token stats only — never document text."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    t = CP.tfidf_top_terms(d, "doc_id", "text", k=3, log_idf=False)
    return t.select(
        "doc_id", "token", "tf", "df_docs",
        F.col("rnk").cast("long").alias("rnk"),
    )


def _q_pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + audit counts over documents deterministically
    augmented with synthetic email/URL/phone (the corpus itself is
    clean synthetic text, so the fixture plants exactly one of each per
    row — both engines build the identical augmented string). One
    codegen'd projection; portable regexes (operators/corpus.py)."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did,
        F.lit("@example.com via https://ex.org/u/"),
        did,
        F.lit(" or +1 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    counts = CP.pii_counts(aug)
    return d.select(
        "doc_id",
        counts["n_urls"].cast("long").alias("n_urls"),
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_phones"].cast("long").alias("n_phones"),
        F.md5(CP.scrub_pii(aug)).alias("scrubbed_md5"),
    )


def _q_sample_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash of the
    key — stable under repartitioning, retries, and engine choice
    (unlike randomSplit). Zero extra shuffle: the label is a pure
    projection; only the audit aggregation shuffles."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    s = SAMP.hash_split(d, "doc_id", _SPLITS)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.bpe_ish_token_count("text")).alias("n_tokens"),
    )


_STRATA = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}


def _q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling on the lang metadata
    column: rebalance the corpus by halving the dominant language.
    Membership is content-hash-derived, so the sample is reproducible
    across engines and partitionings."""
    d = _t(spark, sf_dir, "documents")
    s = SAMP.stratified_sample(d, "doc_id", "lang", _STRATA)
    return s.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


_MIX_WEIGHTS = {"en": 0.35, "de": 2.0, "fr": 2.5, "es": 1.0, "zh": 1.25}


def _q_mix_sources_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing with FRACTIONAL EPOCH weights per
    language ("2.5 epochs of fr, 0.35 of en"): whole copies by floor of
    the weight plus a content-hash-chosen fractional remainder copy.
    Pure projection + row-expanding explode — zero shuffle, zero RNG
    state; the mixture is reproducible across engines, partitionings,
    and incremental reruns. See sampling.mix_sources."""
    d = _t(spark, sf_dir, "documents")
    m = SAMP.mix_sources(d, "doc_id", "lang", _MIX_WEIGHTS)
    return m.select("doc_id", "lang", F.col("copy_no").cast("long").alias("copy_no"))


def _sql_mix_sources_docs() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {int(w)} + "
        f"(CASE WHEN bk < {int(round((w - int(w)) * 10000))} THEN 1 ELSE 0 END)"
        for s, w in _MIX_WEIGHTS.items()
    )
    return f"""
WITH b AS (SELECT doc_id, lang, {_SQL_BUCKET} AS bk FROM documents),
n AS (SELECT doc_id, lang, CASE lang {arms} ELSE 0 END AS n_copies FROM b)
SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_no
FROM n WHERE n_copies > 0
"""


def _q_span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact span dedup audit (chunk-granularity
    approximation of suffix-array substring dedup): per document, how
    many of its 16-token spans are the corpus-wide survivor of their
    content fingerprint vs duplicated elsewhere. Only digests and
    integer ids ever shuffle. See corpus.span_dedup_stats."""
    d = _t(spark, sf_dir, "documents")
    return CP.span_dedup_stats(d, "doc_id", "text", span_tokens=16)


def _sql_span_dedup_docs() -> str:
    return r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
st AS (SELECT doc_id, ws,
              unnest(range(1, greatest(len(ws), 1) + 1, 16)) AS start
       FROM w),
sp AS (SELECT doc_id, CAST((start - 1) // 16 AS BIGINT) AS span_no,
              md5(array_to_string(ws[start : start + 15], ' ')) AS fp
       FROM st),
r AS (SELECT doc_id, span_no, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, span_no)
               AS rn
      FROM sp)
SELECT doc_id,
       count(*)::BIGINT AS n_spans,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       (count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END))::BIGINT AS n_dup
FROM r GROUP BY doc_id
"""


_BM25_TERMS = ["spark", "join", "window"]


def _q_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval: top-10 documents for a bag-of-terms
    query, exact-rational idf (no ln; +,*,/ are correctly rounded so the
    ranking is engine-stable). The emitted surface is integer-exact —
    rank plus (n_terms, sum_tf) match diagnostics; the raw double score
    stays internal because FMA contraction differs across engines by
    ~1 ulp. Non-matching docs contribute zero shuffle rows; per-term df
    broadcasts back. See corpus.bm25_top_docs."""
    d = _t(spark, sf_dir, "documents")
    t = CP.bm25_top_docs(d, "doc_id", "text", _BM25_TERMS, k=10)
    return t.select("doc_id", "n_terms", "sum_tf", "rnk")


def _sql_bm25_docs() -> str:
    # literals 2.2 / 1.2 / 0.25 / 0.75 are the shortest-repr round-trips
    # of the operator's k1+1, k1, 1-b, b — identical doubles both engines
    conds = " + ".join(
        f"coalesce(sum(CASE WHEN term = '{t}' THEN s END), 0.0)"
        for t in _BM25_TERMS
    )
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return rf"""
WITH tok AS (
  SELECT doc_id,
         len(string_split_regex(trim(lower(text)), '\s+')) AS dl,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list}) GROUP BY ALL),
n AS (
  SELECT count(*)::BIGINT AS nn,
         CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
           AS total_dl
  FROM documents),
dfs AS (SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ((2 * nn - 2 * df_docs + 1) / (2 * df_docs + 1))
         * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (total_dl / nn)))))
           AS s
  FROM tf JOIN dfs USING (term), n),
agg AS (SELECT doc_id, {conds} AS score,
               count(*)::BIGINT AS n_terms, sum(tf)::BIGINT AS sum_tf
        FROM sc GROUP BY doc_id)
SELECT doc_id, n_terms, sum_tf,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM agg ORDER BY score DESC, doc_id LIMIT 10
"""


def _q_pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end training-corpus pipeline: quality filter ->
    language filter -> exact near-dup removal (normalized-content
    fingerprint, min-id survivor) -> deterministic split -> audit
    counts. Everything up to the dedup aggregate is a single codegen'd
    projection over one parquet scan that reduces each doc to
    (doc_id, fp, token_count); total cost is two shuffles (fingerprint
    aggregate + final aggregation), both map-side-combined, and the
    text payload never crosses an exchange."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    # narrow-proxy dedup (r11, guide §2.3/§8): the token count is a
    # pure function of text, so compute it IN the scan-stage projection
    # and never ship text again — the fingerprint exchange carries
    # (fp, doc_id, tc) ≈ 50 bytes/row instead of the full document
    # payload, and the survivor election is a map-side-combined
    # min(struct(doc_id, tc)) hash aggregate instead of a window
    # (no per-partition sort, partial aggregation before the exchange).
    # Survivor semantics identical: min doc_id per fingerprint, its tc.
    q = d.filter(
        SRC.no_pushdown(
            (F.round(TX.quality_score("text") * 10).cast("long") >= 6)
            & (TX.lang_id("text") == "en")
        )
    ).select(
        "doc_id",
        TX.doc_fingerprint("text").alias("fp"),
        TX.bpe_ish_token_count("text").cast("long").alias("tc"),
    )
    # min + min_by (not min-of-struct): struct ordering plans as a
    # SortAggregate; the scalar pair keeps the aggregate hash-based.
    # doc_id is unique, so min_by is deterministic.
    rep = q.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("tc", "doc_id").alias("tc"),
    )
    s = SAMP.hash_split(rep, "doc_id", _SPLITS)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tc").alias("n_tokens"),
    )


def _q_agg_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + percentile aggregation breadth: exact count-distinct,
    decimal-exact running money, and a median over integer cents. Every
    emitted column stays in integer space: the interpolated median of
    ints is a half-integer, so 2*median is an exact BIGINT in both
    engines, and the max is emitted as exact cents rather than a raw
    double that round-trips through two serialization paths."""
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(cents).alias("sum_cents"),
            (F.median(cents) * 2).cast("long").alias("median_x2_cents"),
            F.max(cents).alias("max_cents"),
        )
    )


def _q_quantiles_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates: discrete p50/p90/p99 over integer cents.
    percentile_disc picks an actual element (no interpolation), so the
    result is an exact BIGINT in both engines — the portable way to
    emit tail-latency-style quantiles. One hash-agg pass; at 100 TB
    discrete percentiles aggregate a per-group sorted sketch of the
    group's values (use approx_percentile when groups are huge)."""
    e = _t(spark, sf_dir, "events")
    cents_sql = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return e.groupBy("event_type").agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {cents_sql})"
            )
            .cast("long")
            .alias(f"p{int(p * 100)}_cents")
            for p in (0.5, 0.9, 0.99)
        ],
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR (Tukey-fence) outlier detection per event type, entirely in
    integer space: fences at p25/p75 of exact cents with a 3x
    multiplier — ``cents > p75 + 3*(p75-p25)`` (and the low-side
    mirror) — so both engines compare identical BIGINTs; no float ever
    exists. Two passes over the group: the percentile aggregation
    produces a tiny per-type fence relation that BROADCASTS back onto
    the scan — the standard two-pass shape for "aggregate-derived
    per-group thresholds" (a windowed rewrite would shuffle the fact
    table instead; thresholds-side broadcast wins at any scale)."""
    e = _t(spark, sf_dir, "events")
    cents_sql = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    cents = F.expr(cents_sql)
    fences = e.groupBy("event_type").agg(
        F.expr(f"percentile_disc(0.25) WITHIN GROUP (ORDER BY {cents_sql})")
        .cast("long").alias("p25"),
        F.expr(f"percentile_disc(0.75) WITHIN GROUP (ORDER BY {cents_sql})")
        .cast("long").alias("p75"),
    )
    iqr = F.col("p75") - F.col("p25")
    flagged = e.select("event_type", cents.alias("cents")).join(
        F.broadcast(fences), "event_type"
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (F.col("cents") > F.col("p75") + 3 * iqr).cast("long")
        ).alias("n_high_outliers"),
        F.sum(
            (F.col("cents") < F.col("p25") - 3 * iqr).cast("long")
        ).alias("n_low_outliers"),
        F.max("p75").alias("p75_cents"),
        F.max("p25").alias("p25_cents"),
    )


_SQL_OUTLIERS_EVENTS = """
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), f AS (
  SELECT event_type,
         CAST(quantile_disc(cents, 0.25) AS BIGINT) AS p25,
         CAST(quantile_disc(cents, 0.75) AS BIGINT) AS p75
  FROM c GROUP BY event_type
)
SELECT c.event_type,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN cents > p75 + 3 * (p75 - p25) THEN 1 ELSE 0 END)::BIGINT
         AS n_high_outliers,
       sum(CASE WHEN cents < p25 - 3 * (p75 - p25) THEN 1 ELSE 0 END)::BIGINT
         AS n_low_outliers,
       max(p75)::BIGINT AS p75_cents,
       max(p25)::BIGINT AS p25_cents
FROM c JOIN f USING (event_type)
GROUP BY c.event_type
"""


def _q_approx_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type, pinned
    against the exact count IN the emitted row: the oracle cannot replay
    Spark's sketch, so the query emits the exact count (engine-exact)
    plus a boolean asserting the sketch landed within 5x the configured
    2% relative standard deviation — the oracle emits literal TRUE, so a
    broken sketch breaks the hash match. At 100 TB the approx path is
    the one you run (fixed-size sketch per group, no exact distinct
    shuffle); the exact column here is the audit."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.count_distinct("user_id")
            )
            <= F.greatest(
                (F.count_distinct("user_id") * F.lit(0.10)).cast("long"),
                F.lit(1),
            )
        ).alias("sketch_within_bound"),
    )


_SQL_APPROX_DISTINCT_EVENTS = """
SELECT event_type,
       count(DISTINCT user_id)::BIGINT AS n_users_exact,
       TRUE AS sketch_within_bound
FROM events GROUP BY event_type
"""


def _q_window_user_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset/rank window breadth: per-user event timeline with lag /
    lead / ntile over one window spec — ONE shuffle on user_id serves
    all four functions (they share the sort)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.ntile(4).over(w).alias("quartile"),
        F.row_number().over(w).alias("seq"),
    )


def _q_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click joined to the user's most recent view at
    or before it (null if none). Single shuffle + sort, no range-join
    pair blow-up; oracle is DuckDB's native ASOF LEFT JOIN."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    j = ASOF.asof_join(
        clicks, views, ["user_id"], "ts", "ts", ["ts"], suffix="_view"
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("ts_view").alias("view_ts"),
    )


def _q_asof_forward_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py direction='forward'):
    each click joined to the user's EARLIEST purchase at or after it
    (null if none) — the look-ahead pairing behind time-to-convert and
    next-action labels. Same single-shuffle union+running-window shape
    as the backward direction, just ordered the other way; oracle is
    DuckDB's native ASOF with the >= comparator."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    buys = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    j = ASOF.asof_join(
        clicks, buys, ["user_id"], "ts", "ts", ["ts"],
        suffix="_buy", direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("ts_buy").alias("purchase_ts"),
    )


def _q_conversion_latency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: every purchase paired (as-of) with
    the user's most recent prior-or-simultaneous view, then the
    view->purchase latency distribution per user-id-parity half — a
    stand-in grouping that keeps the report two-rowed and
    deterministic (real cohort analysis keys on first-activity week,
    see retention_cohorts_events) — the composition every growth
    report runs (as-of pairing feeding ordered-set aggregates). Latencies are exact integer seconds
    (floored epoch delta), percentiles are percentile_disc picks of
    actual elements, so the whole report is integer-exact cross-engine.
    Plan: one as-of shuffle + one grouping aggregate — no range-join
    pair blow-up, no window over the full event log."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    j = ASOF.asof_join(
        purchases, views, ["user_id"], "ts", "ts", ["ts"], suffix="_view"
    ).filter(F.col("ts_view").isNotNull())
    lat = j.select(
        (F.col("user_id") % 2).alias("cohort_half"),
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.col("ts_view").cast("timestamp"))
        ).alias("latency_s"),
    )
    return lat.groupBy("cohort_half").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_s)")
        .cast("long")
        .alias("p50_s"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_s)")
        .cast("long")
        .alias("p90_s"),
    )


_SQL_CONVERSION_LATENCY_EVENTS = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
), paired AS (
  SELECT p.user_id,
         CAST(floor(epoch(p.ts)) AS BIGINT)
           - CAST(floor(epoch(v.ts)) AS BIGINT) AS latency_s
  FROM p ASOF JOIN v
    ON p.user_id = v.user_id AND v.ts <= p.ts
)
SELECT user_id % 2 AS cohort_half,
       count(*) AS n_conversions,
       CAST(quantile_disc(latency_s, 0.5) AS BIGINT) AS p50_s,
       CAST(quantile_disc(latency_s, 0.9) AS BIGINT) AS p90_s
FROM paired GROUP BY 1
"""


def _q_range_join_click_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: every (click, error) pair for the same user
    where the error happened in the 10 minutes before the click. Binned
    equi-join + exact filter — no nested-loop, one shuffle per side."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id")
    )
    j = RJ.bounded_range_join(
        clicks,
        errors,
        ["user_id"],
        "ts",
        "ts",
        ["err_id"],
        min_delta=-600,
        max_delta=0,
        suffix="",
    )
    return j.select("event_id", "user_id", "err_id")


def _q_max_concurrency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneously-open intervals per hour
    (operators/range_join.py:interval_max_concurrency) — the classic
    sweep-line, distributed: each event opens a half-open interval
    [ts, ts + floor(value) seconds); intervals explode to +1/-1 deltas,
    the prefix sum runs per-day-bucketed (running_total's two-phase
    scan — no global sort-window over the corpus), and per-hour peaks
    combine point maxima with the level carried in from the previous
    hour via one lag over the calendar-bounded hour-grain relation."""
    e = _t(spark, sf_dir, "events")
    iv = e.select(
        F.col("ts").alias("s"),
        F.timestamp_add(
            "SECOND", F.floor("value").cast("int"), F.col("ts")
        ).alias("en"),
    )
    return RJ.interval_max_concurrency(iv, "s", "en", grain="hour")


def _q_window_user_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: lag, running decimal sum (exact cents),
    3-row rolling max, row_number — one shuffle on user_id serves all
    four (same partitioning + ordering)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last3 = w.rowsBetween(-2, Window.currentRow)
    dec = F.col("value").cast("decimal(18,2)")
    return e.select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        (F.sum(dec).over(run) * 100).cast("long").alias("running_cents"),
        F.max("value").over(last3).alias("max3_value"),
        F.row_number().over(w).alias("rn"),
    )


def _q_window_user_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per user, how many events and how
    many exact cents landed in the trailing hour (RANGE BETWEEN 3600s
    PRECEDING over epoch-micros ordering — a true value-range frame, not
    a row count; peer rows with equal timestamps are included on both
    engines by definition of RANGE). One shuffle on user_id."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    dec = F.col("value").cast("decimal(18,2)")
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        (F.sum(dec).over(w) * 100).cast("long").alias("cents_last_hour"),
    )


def _q_session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregate: events -> per-user 30-min sessions (native
    session_window, one user-keyed shuffle) -> corpus-wide session
    DISTRIBUTION (count + discrete p50/p90 of events-per-session and
    of session duration in seconds) — the engagement-monitoring
    surface. The second level aggregates the session-grain relation,
    orders of magnitude smaller than the event log; exact integers
    (percentile_disc selects, never interpolates)."""
    e = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    sess = e.groupBy("user_id", sw).agg(
        F.count(F.lit(1)).alias("n_ev"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("dur_s"),
    )
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_ev)")
        .cast("long").alias("p50_events"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_ev)")
        .cast("long").alias("p90_events"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_s)")
        .cast("long").alias("p50_dur_s"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY dur_s)")
        .cast("long").alias("p90_dur_s"),
    )


def _q_wow_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week deltas on an AGGREGATED series: weekly event
    counts per type, then lag on the week-grain relation — the trend
    report shape where the window runs over a tiny aggregate (weeks x
    types rows), never the event log. Exact integer deltas; first week
    of a type emits NULL delta (no fabricated zero baseline)."""
    e = _t(spark, sf_dir, "events")
    weekly = e.groupBy(
        F.date_trunc("week", F.col("ts")).alias("week"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("week")
    return weekly.select(
        "week", "event_type", "n_events",
        (F.col("n_events") - F.lag("n_events").over(w)).alias("wow_delta"),
    )


def _q_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-NATIVE session windows in batch: per-user sessions with a
    30-minute inactivity gap via ``F.session_window`` — the built-in
    operator (one shuffle on user_id, sessions merged JVM-side), in
    contrast to streaming/'s applyInPandasWithState sessionizer which
    exists for custom state logic. Emits exact integers plus the
    session bounds (start = first event, end = last event + gap).
    Oracle is the classic gaps-and-islands rewrite: a new-session flag
    from lag(ts), a running sum to number sessions, then min/max/count
    per (user, session)."""
    e = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return e.groupBy("user_id", sw).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
    ).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "n_types",
    )


_SQL_SESSION_WINDOW_EVENTS = """
WITH x AS (
  SELECT user_id, ts, event_type,
         -- strict >: session_window merges touching sessions (an
         -- exactly-gap event continues the session) — measured, see
         -- the session_stats_events oracle note
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM x
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*)::BIGINT AS n_events,
       count(DISTINCT event_type)::BIGINT AS n_types
FROM s GROUP BY user_id, sid
"""


def _q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel (view -> click -> purchase): how many
    users reached each stage, where a stage counts only if it happens
    STRICTLY AFTER the previous stage in the per-user event order
    (ts, event_id — a deterministic total order). Running max flags
    over one shared window spec chain the stages; all three windows
    reuse a single user-keyed sort, so the whole funnel costs ONE
    shuffle + two tiny aggregations. Integer-exact."""
    e = _t(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    viewed = (F.col("event_type") == "view").cast("int")
    staged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.coalesce(F.max(viewed).over(w_prev), F.lit(0)).alias("hv"),
    ).select(
        "user_id", "ts", "event_id", "event_type", "hv",
        ((F.col("event_type") == "click") & (F.col("hv") == 1))
        .cast("int").alias("qc"),
    ).select(
        "user_id", "event_type", "qc",
        F.coalesce(F.max("qc").over(w_prev), F.lit(0)).alias("hqc"),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(viewed).alias("r1"),
        F.max("qc").alias("r2"),
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("hqc") == 1)).cast("int")
        ).alias("r3"),
    )
    return per_user.groupBy(
        (F.col("r1") + F.col("r2") + F.col("r3")).alias("stage")
    ).agg(F.count(F.lit(1)).alias("n_users"))


_SQL_FUNNEL_EVENTS = """
WITH w1 AS (
  SELECT user_id, ts, event_id, event_type,
         coalesce(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS hv
  FROM events
), w2 AS (
  SELECT *, CASE WHEN event_type = 'click' AND hv = 1 THEN 1 ELSE 0 END AS qc
  FROM w1
), w3 AS (
  SELECT *, coalesce(max(qc)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS hqc
  FROM w2
), per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS r1,
         max(qc) AS r2,
         max(CASE WHEN event_type = 'purchase' AND hqc = 1 THEN 1 ELSE 0 END)
           AS r3
  FROM w3 GROUP BY user_id
)
SELECT (r1 + r2 + r3)::INT AS stage, count(*)::BIGINT AS n_users
FROM per_user GROUP BY 1
"""


def _q_twap_user_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly time-weighted average value
    (operators/incremental.py:time_weighted_avg): each event's value
    holds until the user's next event, holding segments split exactly
    at hour boundaries — TWAP / metering integration, where plain AVG
    would overweight bursty minutes. Exact-integer end to end (e4
    values x epoch-microsecond durations; truncated-division quotient)
    with event_id as the simultaneous-observation tiebreak, so the
    oracle replays hash-exactly. One keyed window + one calendar-
    bounded explode + one map-side-combined aggregate."""
    e = _t(spark, sf_dir, "events")
    return INC.time_weighted_avg(
        e, "ts", "value", keys=["user_id"], tiebreak_col="event_id",
        grain="hour",
    )


_SQL_TWAP_USER_HOURLY = """
WITH s AS (
  SELECT user_id, ts,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vq,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events),
seg AS (SELECT * FROM s WHERE nxt IS NOT NULL AND nxt > ts),
cells AS (
  SELECT user_id, ts, vq, nxt, unnest(generate_series(
           date_trunc('hour', ts), date_trunc('hour', nxt),
           INTERVAL 1 HOUR)) AS grain_start
  FROM seg),
ov AS (
  SELECT user_id, grain_start, vq,
         least(epoch_us(nxt), epoch_us(grain_start + INTERVAL 1 HOUR))
           - greatest(epoch_us(ts), epoch_us(grain_start)) AS us
  FROM cells)
SELECT user_id, grain_start,
       CAST(sum(us) AS BIGINT) AS covered_us,
       CAST(sum(vq * us) AS BIGINT) AS num_e4us,
       CAST(sum(vq * us) // sum(us) AS BIGINT) AS twap_q
FROM ov WHERE us > 0
GROUP BY 1, 2
"""


def _q_scd2_enrich_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension enrichment (operators/asof.py:scd2_join over
    sources.synth_scd2_customer): every order joined to the customer
    VERSION whose half-open validity window contains o_orderdate —
    the standard warehouse type-2 lookup. The synthesized 3-version
    history has per-key breakpoints inside the orders date range, so
    each customer's orders genuinely split across versions. One keyed
    equi-join with the validity predicate inside it (fan-out bounded
    by the 3-version history, never a range explosion); the dim build
    is a narrow explode over the customer scan."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    dim = SRC.synth_scd2_customer(c)
    return ASOF.scd2_join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        dim,
        on=[("o_custkey", "c_custkey")],
        ts_col="o_orderdate",
    )


_SQL_SCD2_ENRICH_ORDERS = """
WITH dim AS (
  SELECT c_custkey, TIMESTAMP '1992-01-01' AS valid_from,
         TIMESTAMP '1997-01-01' + (c_custkey % 300) * INTERVAL 1 DAY
           AS valid_to,
         c_mktsegment || '/v0' AS segment,
         (c_custkey % 1000 + 1) * 100 AS credit_limit
  FROM customer
  UNION ALL
  SELECT c_custkey,
         TIMESTAMP '1997-01-01' + (c_custkey % 300) * INTERVAL 1 DAY,
         TIMESTAMP '1999-06-01' + (c_custkey % 200) * INTERVAL 1 DAY,
         c_mktsegment || '/v1', (c_custkey % 1000 + 1) * 200
  FROM customer
  UNION ALL
  SELECT c_custkey,
         TIMESTAMP '1999-06-01' + (c_custkey % 200) * INTERVAL 1 DAY,
         TIMESTAMP '9999-01-01', c_mktsegment || '/v2',
         (c_custkey % 1000 + 1) * 300
  FROM customer)
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
       d.segment, CAST(d.credit_limit AS BIGINT) AS credit_limit
FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
 AND o.o_orderdate >= d.valid_from AND o.o_orderdate < d.valid_to
"""


def _q_resample_user_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (gap filling): per user, one row per
    HOUR between their first and last event, zero-filled where nothing
    happened — the sparse-to-dense resample every per-entity time-series
    model needs. The dense spine is generated FROM the per-user bounds
    aggregate (sequence + explode on users-sized input, never a
    calendar cross-join); the left join back to hourly counts is keyed
    (user, hour) and both sides arrive hash-partitioned from their
    aggregations. Zero rows survive as explicit zeros."""
    e = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour_ts"),
    )
    counts = e.groupBy("user_id", hour.alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spine.join(counts, ["user_id", "hour_ts"], "left").select(
        "user_id",
        "hour_ts",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
    )


_SQL_RESAMPLE_USER_HOURLY = """
WITH b AS (
  SELECT user_id,
         date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
  FROM b
), c AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, count(*) AS n
  FROM events GROUP BY ALL
)
SELECT s.user_id, s.hour_ts, coalesce(c.n, 0)::BIGINT AS n_events
FROM spine s LEFT JOIN c USING (user_id, hour_ts)
"""


def _q_hopping_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregation: 1-hour windows every
    15 minutes — the batch shape of the overlapping-window monitoring
    query (`F.window` with a slide). Spark expands each row into its
    size/slide = 4 owning windows BEFORE the aggregate, so the shuffle
    carries partially-combined per-(window,type) rows, never the 4x
    row blow-up; at 100 TB that map-side combine is what keeps
    overlapping windows affordable. Windows are epoch-aligned in UTC,
    matching DuckDB's time_bucket replay exactly."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
            .cast("long")
            .alias("value_e4"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_e4",
        )
    )


_SQL_HOPPING_WINDOW_EVENTS = """
WITH k AS (SELECT unnest(range(4)) AS k),
w AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - k.k * INTERVAL '15 minutes' AS window_start,
         event_type, value
  FROM events, k
)
SELECT window_start, event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS value_e4
FROM w GROUP BY 1, 2
"""


def _q_ohlc_user_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (open/high/low/close) per user per hour over exact
    cents — the resample-to-bars shape behind any financial/telemetry
    rollup. Open/close are selected by lexicographic struct MIN/MAX
    over (ts, event_id, cents): event_id breaks timestamp ties, so the
    election is deterministic in both engines (min_by/arg_min on ts
    alone is not, under tied timestamps). Single-exchange aggregate
    with full map-side combine (partial + final; struct min/max
    buffers make Spark pick SortAggregate over HashAggregate, but the
    partial combine — the thing that matters at 100 TB — is intact);
    no window, no global sort, no second pass."""
    e = _t(spark, sf_dir, "events")
    cents = (
        (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    )
    key = F.struct(
        F.col("ts"), F.col("event_id"), cents.alias("cents")
    )
    return (
        e.groupBy(
            F.col("user_id"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(
            F.min(key).alias("o"),
            F.max(key).alias("c"),
            F.max(cents).alias("high_cents"),
            F.min(cents).alias("low_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "hour",
            F.col("o.cents").alias("open_cents"),
            "high_cents",
            "low_cents",
            F.col("c.cents").alias("close_cents"),
            "n_events",
        )
    )


_SQL_OHLC_USER_HOURLY = """
WITH c AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
)
SELECT user_id, hour,
       (min(struct_pack(ts := ts, eid := event_id, c := cents))).c
         AS open_cents,
       max(cents) AS high_cents,
       min(cents) AS low_cents,
       (max(struct_pack(ts := ts, eid := event_id, c := cents))).c
         AS close_cents,
       count(*) AS n_events
FROM c GROUP BY 1, 2
"""


def _q_incremental_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py):
    three disjoint event batches (event_id mod 3 — standing in for
    day-partitions of an append-only log) are each aggregated to a
    mergeable per-type state, and the states are MERGED instead of
    reaggregating the union. The oracle aggregates the full table
    directly, so the driver hash proves the decomposition invariant
    merge(state(A), state(B), state(C)) == state(A|B|C) on real data.
    At 100 TB only the newest batch is ever scanned; the merge shuffles
    grain-sized state rows (|event types| x 3 here), not events."""
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    aggs = {
        "n_events": ("event_id", "count"),
        "sum_cents": ("cents", "sum"),
        "min_cents": ("cents", "min"),
        "max_cents": ("cents", "max"),
    }
    src = e.withColumn("cents", cents)
    states = [
        INC.agg_state(
            src.filter(F.col("event_id") % 3 == i), ["event_type"], aggs
        )
        for i in range(3)
    ]
    return INC.merge_agg_states(states, ["event_type"], aggs)


_SQL_INCREMENTAL_ROLLUP_EVENTS = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
       min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_cents,
       max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_cents
FROM events GROUP BY 1
"""


def _q_hll_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-distinct incremental rollup: the aggregate plain
    merge_agg_states rejects (count-distinct) done the 100 TB way —
    each batch's state carries a Datasketches HLL sketch of its users
    (hll_sketch_agg), merging max-folds the registers (hll_union_agg),
    and the estimate is read at the edge. Sketch registers are
    order/partition invariant, so the emitted gate is deterministic.
    The oracle cannot replay the sketch; as with approx_distinct_events
    the row carries the exact distinct count (engine-exact) plus a
    boolean pinning the merged estimate within 10% of it — the oracle
    emits literal TRUE, so a sketch/merge regression breaks the hash."""
    e = _t(spark, sf_dir, "events")
    aggs = {"n_events": ("event_id", "count"), "sk": ("user_id", "hll_distinct")}
    states = [
        INC.agg_state(
            e.filter(F.col("event_id") % 3 == i), ["event_type"], aggs
        )
        for i in range(3)
    ]
    merged = INC.merge_agg_states(states, ["event_type"], aggs)
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    est = F.hll_sketch_estimate(F.col("sk"))
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_events",
        "n_users_exact",
        (
            F.abs(est - F.col("n_users_exact"))
            <= F.greatest(
                (F.col("n_users_exact") * F.lit(0.10)).cast("long"), F.lit(1)
            )
        ).alias("merged_sketch_within_bound"),
    )


_SQL_HLL_ROLLUP_EVENTS = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users_exact,
       TRUE AS merged_sketch_within_bound
FROM events GROUP BY 1
"""


def _q_event_paths_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: count event-type trigrams along each
    user's (ts, event_id)-ordered stream and keep paths seen >= 5
    times. One user-keyed shuffle builds the ordered sequence
    (collect_list + array_sort on a (ts,event_id,type) struct — total
    order, so deterministic); trigram extraction is a per-row
    `transform` over the sorted array (no second shuffle), and the
    final count is an ordinary hash aggregate on the gram. Per-user
    sequences are bounded (a user's events fit one task); the gram
    aggregate is map-side combined, so the path cardinality — not the
    event count — sizes the second exchange."""
    e = _t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("s")
    )
    grams = seq.select(
        F.explode(
            F.when(
                F.size("s") >= 3,
                F.expr(
                    "transform(sequence(0, size(s) - 3), i -> "
                    "concat_ws('>', s[i].event_type, "
                    "s[i+1].event_type, s[i+2].event_type))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 5)
    )


_SQL_EVENT_PATHS_USERS = """
WITH s AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS t
  FROM events GROUP BY user_id
), g AS (
  SELECT unnest([t[i+1] || '>' || t[i+2] || '>' || t[i+3]
                 for i in range(greatest(len(t) - 2, 0))]) AS path
  FROM s
)
SELECT path, count(*) AS n_occurrences
FROM g GROUP BY 1 HAVING count(*) >= 5
"""


def _q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID over documents: per-language marker
    scores plus the argmax label (sorted-code tie-break, 'und' floor).
    One codegen'd projection — no UDF, no shuffle."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    scores = TX.lang_scores("text")
    return d.select(
        "doc_id",
        *[scores[l].alias(f"s_{l}") for l in sorted(scores)],
        TX.lang_id("text").alias("detected"),
    )


def _q_text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality scoring + BPE-ish token counts. The composite
    score is emitted as an integer decile (round(q*10)) so the oracle
    hash can't drift on last-ulp float formatting."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        TX.bpe_ish_token_count("text").alias("n_bpe_ish"),
        F.round(TX.quality_score("text") * 10)
        .cast("long")
        .alias("quality_decile"),
    )


def _q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    emitted as exact integers (numerators/denominators, never floats, so
    the oracle hash cannot drift on rounding): token counts, distinct
    token counts, immediate-stutter count, bigram multiset size, distinct
    bigram count, and the top-bigram occurrence count.

    Shape: ZERO shuffles. Every signal is a per-row expression — the
    bigram multiset stays an array, ``array_sort`` groups equal grams
    adjacently, and one ``aggregate`` run-length fold
    (text.max_equal_run) yields the top-bigram occurrence count in a
    single traversal. No explode, no exchange, embarrassingly parallel:
    the plan is scan → project (pinned in tests/test_plans.py). The
    previous shape (repartition(doc_id) → explode → two reused-exchange
    hash aggs) was the best *aggregation* plan but still moved the
    corpus once and hashed the exploded multiset twice; at sf0.1 this
    fold is ~5x faster, and at 100 TB it removes the only exchange.
    Docs with <2 tokens have no bigrams and are excluded (the oracle
    applies the same predicate).
    """
    d = _t(spark, sf_dir, "documents")
    # STAGE the token and bigram arrays as named columns (r11): higher-
    # order-function subtrees are not common-subexpression-eliminated,
    # so the previous inline form re-ran the whitespace split ~6x and
    # the zip_with gram build 3x per row (token_count in filter +
    # select, distinct, consec, grams x3) — measured 2.4 -> 0.95 s at
    # sf0.1 for the staged form. no_alias_inline fences both stages
    # against CollapseProject/filter-pushdown re-inlining (the
    # winnow_fingerprints pathology).
    staged = d.select(
        "doc_id",
        SRC.no_alias_inline(TX.tokens(F.lower(F.col("text")))).alias(
            "__tk"
        ),
    ).filter(F.size("__tk") >= 2)
    staged = staged.withColumn(
        "__gr", SRC.no_alias_inline(TX.gram_multiset(F.col("__tk"), 2))
    )
    tk, gr = F.col("__tk"), F.col("__gr")
    shifted = F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0)))
    hits = F.zip_with(tk, shifted, lambda a, b: a == b)
    return staged.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_words"),
        F.size(F.array_distinct(tk)).cast("long")
        .alias("n_distinct_words"),
        F.size(F.filter(hits, lambda x: x)).cast("long")
        .alias("n_consec_repeat"),
        F.size(gr).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(gr)).cast("long")
        .alias("n_distinct_bigrams"),
        TX.max_equal_run(F.array_sort(gr)).alias("top_bigram_count"),
    )


def _sql_repetition_docs() -> str:
    return r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
  FROM documents
), s AS (
  SELECT doc_id,
         len(ws) AS n_words,
         len(list_distinct(ws)) AS n_distinct_words,
         len(list_filter(range(1, len(ws)), i -> ws[i] = ws[i + 1]))
           AS n_consec_repeat,
         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
           AS grams
  FROM w
  WHERE len(ws) >= 2
), g AS (
  SELECT doc_id, n_words, n_distinct_words, n_consec_repeat,
         unnest(grams) AS gram
  FROM s
), c AS (
  SELECT doc_id, n_words, n_distinct_words, n_consec_repeat, gram,
         count(*) AS c
  FROM g
  GROUP BY ALL
)
SELECT doc_id,
       n_words::BIGINT AS n_words,
       n_distinct_words::BIGINT AS n_distinct_words,
       n_consec_repeat::BIGINT AS n_consec_repeat,
       sum(c)::BIGINT AS n_bigrams,
       count(*)::BIGINT AS n_distinct_bigrams,
       max(c)::BIGINT AS top_bigram_count
FROM c
GROUP BY doc_id, n_words, n_distinct_words, n_consec_repeat
"""


def _q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table: docs whose
    word 3-grams overlap a synthetic held-out benchmark (every 97th doc).
    See corpus.contamination_counts for the broadcast-semi-join shape."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return CP.contamination_counts(corpus, bench, "doc_id", "text", n=3)


def _sql_decontaminate_docs() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
SELECT doc_id, count(*) AS n_contaminated
FROM grams JOIN bench USING (g)
WHERE doc_id % 97 != 0
GROUP BY doc_id
"""


# ngram-pair graph CTE body (toks -> ... -> pairs): the DuckDB replay of
# _ngram_pairs (same gram/pair pipeline as the ngram_jaccard_docs
# oracle). Shared by the cluster oracles and the triangle oracle.
_SQL_NGRAM_PAIRS_BODY = """toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
kept AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100),
inv AS (SELECT doc_id, grams.g FROM grams JOIN kept USING (g)),
sizes AS (SELECT doc_id, count(*) AS sz FROM inv GROUP BY doc_id),
rawpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_cnt
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM rawpairs
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter_cnt * 1.0 / (sa.sz + sb.sz - inter_cnt) >= 0.1)"""

# ... + connected components, shared by the two cluster oracles: a
# SRP-LSH pair mining replayed in SQL: md5-derived integer hyperplanes,
# floor(x*1e6)-quantized vectors, exact integer dots -> sign bits ->
# banding -> Hamming filter — identical bits to
# operators/similarity.py:srp_near_dup_pairs (num_planes=32,
# band_bits=8, max_hamming=8, the registered configuration).
_SQL_SRP_PAIRS_BODY = """planes AS (
  SELECT p, i,
         (('0x' || substr(md5(p || ':' || i), 1, 8))::BIGINT % 1999) - 999 AS c
  FROM (SELECT unnest(generate_series(0, 31)) AS p),
       (SELECT unnest(generate_series(0, 63)) AS i)),
q AS (
  SELECT vec_id, i - 1 AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings) u),
dots AS (
  SELECT q.vec_id, planes.p, sum(q.x * planes.c) AS d
  FROM q JOIN planes ON q.i = planes.i GROUP BY 1, 2),
sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END)
              AS BIGINT) AS sig
  FROM dots GROUP BY vec_id),
bands AS (
  SELECT vec_id, sig, b, (sig >> (b * 8)) & 255 AS bk
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
                  a.sig AS sa, b2.sig AS sb
  FROM bands a
  JOIN bands b2 ON a.b = b2.b AND a.bk = b2.bk AND a.vec_id < b2.vec_id)"""

_SQL_SRP_PREFIX = "WITH " + _SQL_SRP_PAIRS_BODY + "\n"

# the same recursive min-label fixpoint as _SQL_CC_PREFIX, over the SRP
# pair graph instead of the n-gram Jaccard graph
_SQL_SRP_CC_PREFIX = "WITH RECURSIVE " + _SQL_SRP_PAIRS_BODY + """,
pairs AS (
  SELECT id_a, id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 8),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges) n
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
comp AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node)
"""


# recursive CTE propagates reachable labels to a fixpoint — min(label)
# per node IS the connected component representative, the exact
# semantics of operators/cluster.py's min-label propagation.
_SQL_CC_PREFIX = "WITH RECURSIVE " + _SQL_NGRAM_PAIRS_BODY + """,
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges) n
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
comp AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node)
"""


def _q_diff_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip: ``apply_diff(s1, diff(s1, s2, carry_unmatched),
    pk) == s2`` — proves the changeset diff carries ALL information
    separating the snapshots (operators/diff.py:apply_diff). Restricted
    to integer/string columns (CompColArr stringifies values; double
    and date formatting is engine-specific). The oracle is simply the
    s2 fixture itself, cast to string."""
    from pyspark_datacol_diff_spark.operators.diff import apply_diff

    s1, s2 = _orders_pair(spark, sf_dir)
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    d = diff(s1, s2, ["o_orderkey"], compare_cols=cols, carry_unmatched=True)
    return apply_diff(s1, d, ["o_orderkey"], cols)


def _q_digest_tree_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style diff localization (operators/diff.py:digest_tree_diff):
    both perturbed orders snapshots reduce to 3-level key-bucket digest
    trees (fanout 8 -> 64 leaves) and the trees full-outer join — the
    anti-entropy primitive that finds WHICH key slices moved without a
    row-level diff join. md5-based bucketing and 60-bit value hashes
    are engine-portable, so the DuckDB oracle replays the whole tree
    (both sides, all levels, the differs flags) exactly. NOT balanced
    up front: unlike digest_orders, each side immediately reduces
    through its bucket-keyed aggregate, and a pre-balance adds two
    full-table exchanges that measured slower than the single-task
    hashing they parallelize."""
    s1, s2 = _orders_pair(spark, sf_dir)
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    return DIFF_OPS.digest_tree_diff(
        s1, s2, ["o_orderkey"], cols, fanout=8, levels=2
    )


def _q_triangle_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the shared near-dup pair graph
    (operators/cluster.py:triangle_counts — degree-ordered orientation,
    Suri & Vassilvitskii WWW'11): the local-clustering signal that
    separates tight duplicate clusters from chain noise. The oracle
    closes wedges with a 3-way self-join on the id-canonical pair set —
    both engines count each triangle exactly once (total orders differ,
    triangle sets don't)."""
    pairs = _ngram_pairs(spark, sf_dir)
    return CC.triangle_counts(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "n_tri"
    )


def _q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension exact integer first+second moments over the
    embedding corpus (operators/similarity.py:dim_stats_exact) — the
    whitening/standardization precompute: mean and variance per
    dimension derive from (n, sum_e6, sumsq_e12) with no cross-engine
    float drift. One posexplode inside the scan, one map-side-combined
    aggregate keyed by dimension."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.dim_stats_exact(emb, "embedding").select(
        F.col("pos").cast("long").alias("pos"),
        "n_vecs",
        "dim_sum_e6",
        "dim_sumsq_e12",
    )


def _q_ffill_user_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (operators/incremental.py:forward_fill): every
    event row carries the user's most recent purchase value at or
    before it, in exact cents — the last-observation-carried-forward
    repair between sparse event logs and dense feature frames. One
    per-user window (single shuffle); (ts, event_id) is a total order
    so the carry is deterministic; oracle is DuckDB's
    last_value(... IGNORE NULLS) over the identical frame."""
    e = _t(spark, sf_dir, "events")
    cents = F.when(
        F.col("event_type") == "purchase",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
    )
    src = e.select("event_id", "user_id", "ts", cents.alias("purchase_cents"))
    filled = INC.forward_fill(
        src, ["user_id"], ["ts", "event_id"], ["purchase_cents"]
    )
    return filled.select(
        "event_id", "user_id",
        F.col("purchase_cents_ffill").alias("last_purchase_cents"),
    )


def _q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user latest event via max_by/arg_max AGGREGATION — top-1-per-
    group without a window: no per-partition sort, fully map-side
    combinable (each partition keeps one candidate per user before the
    shuffle), where the window rewrite sorts every user's whole history.
    The ordering key is a fixed-width sortable string
    (microsecond-precision ISO timestamp — the testdata carries real
    sub-second parts — + zero-padded id) so both engines compare
    identical bytes and ties are impossible. Pad width 20 > the 19
    digits of any BIGINT — lpad TRUNCATES overlong strings (both
    engines), so a narrower pad would silently collide ids above its
    digit budget."""
    e = _t(spark, sf_dir, "events")
    key = F.concat_ws(
        "|",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    # last_type pins DuckDB arg_max's NULL-SKIPPING convention (latest
    # NON-NULL type): DuckDB's arg_max ignores rows whose arg is NULL
    # while Spark's max_by returns the value at the max key even when
    # NULL — divergent only when a user's latest event carries a NULL
    # type (the r11 boundary sweep's u8 case; driver data has no NULL
    # types, so driver hashes are unchanged). Nulling the ORDER key
    # makes Spark's max_by skip those rows, matching the oracle.
    return e.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("last_event_id"),
        F.max_by(
            "event_type",
            F.when(F.col("event_type").isNotNull(), key),
        ).alias("last_type"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_degree_hist_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph — the skew
    predictor for every pair-join stage (a heavy-tailed degree curve
    means hot nodes and a 'last reducer'; the histogram says so before
    the join runs). Node degrees from one doubled-edge aggregate, then
    the shared fixed-width histogram (operators/histogram.py) over
    them: bin width 1, 16 bins, top bin clamps the tail."""
    pairs = _ngram_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("id_a").alias("n"))
        .unionAll(pairs.select(F.col("id_b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return HG.histogram(deg, "deg", lo=0, width=1, num_bins=16)


def _q_cluster_size_hist_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component size distribution — the dedup diagnostic
    (how much of the corpus sits in 2-clusters vs giant blobs, i.e.
    projected savings and skew risk before running the survivor drop).
    Components from the shared pair graph, then two grain-sized
    aggregates (component -> size, size -> count); the oracle reuses
    the recursive-CTE fixpoint."""
    pairs = _ngram_pairs(spark, sf_dir)
    comps = CC.connected_components(pairs, "id_a", "id_b")
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_components"))


def _q_bloom_semi_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join (operators/prune.py:bloom_semi_join):
    lineitem rows restricted to the negative-balance suppliers, then
    per-supplier line counts — the shuffle-pruning pattern for a semi
    join whose build side is too big to broadcast at 100 TB. The Bloom
    membership test runs map-side against a literal bitset (the only
    collect is the bounded num_bits/64-row word table), so non-matching
    lineitem rows never enter the semi-join exchange; the trailing
    exact semi join makes the result bit-identical to the plain semi
    join the oracle runs."""
    li = _t(spark, sf_dir, "lineitem")
    sm = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    j = PR.bloom_semi_join(li, sm, ["l_suppkey"], num_bits=1 << 17)
    return j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


def _q_bigram_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table with min-count prune
    (operators/corpus.py:ngram_counts) — the LM sufficient statistic.
    Gram materialization is array transform+slice inside the scan (no
    shuffle, no token self-join); the single exchange is the gram-keyed
    hash agg with map-side combine, so shuffle volume is
    distinct-grams-sized. min_count=10 prunes after the global count,
    where LM pipelines prune. balance_partitions is warranted here
    (unlike pack_sequences): the heavy work — per-doc gram zip +
    explode + partial agg — happens BEFORE the operator's only
    shuffle, so a single-file input would otherwise run it on one
    task (measured 2x at sf0.1)."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return CP.ngram_counts(d, "text", n=2, min_count=10)


def _cents(col: str = "value"):
    return (F.col(col).cast("decimal(18,2)") * 100).cast("long")


def _q_hist_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event value in cents
    (operators/histogram.py:histogram) — the mergeable distribution
    sketch: one algebraic hash agg whose map side emits at most
    num_bins rows per partition, vs the exact-percentile sort that
    shuffles every row. $10 bins over [0, $500), edge bins clamp."""
    e = _t(spark, sf_dir, "events")
    return HG.histogram(
        e.select(_cents().alias("cents")), "cents",
        lo=0, width=1000, num_bins=50,
    )


def _q_hist_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram rollup
    (operators/histogram.py:merge_histograms): three disjoint batches
    (event_id mod 3 — standing in for daily partitions) are
    histogrammed independently and MERGED; the driver hash proves the
    merged state equals the one-shot histogram the oracle computes.
    The incremental.py contract extended to distributions: aggregate
    the new batch only, merge grain-sized (bin) rows, never rescan
    history."""
    e = _t(spark, sf_dir, "events")
    src = e.select("event_id", _cents().alias("cents"))
    batches = [
        HG.histogram(
            src.filter(F.col("event_id") % 3 == i), "cents",
            lo=0, width=1000, num_bins=50,
        )
        for i in range(3)
    ]
    return HG.merge_histograms(batches)


def _q_hist_quantiles_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-derived p50/p90/p99 of event value
    (operators/histogram.py:histogram_quantiles): quantile rank read
    off the binned cumulative counts with integer cross-multiplied
    rank comparison (cum*1000 >= q*total — no float rounding to
    diverge from the oracle). Bin-width error is chosen up front; the
    quantile pass itself touches <= num_bins rows."""
    h = _q_hist_event_value(spark, sf_dir)
    return HG.histogram_quantiles(h, [500, 900, 990])


def _q_hard_negatives_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:hard_negatives):
    top-5 nearest DIFFERENT-label neighbors for the deterministic query
    subset — the contrastive-training pair source. Label inequality is
    a predicate on the broadcast join (pruned before scoring); ids+rank
    only, same last-ulp argument as ann_topk_cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    return SIM.hard_negatives(emb, q, 5).select("qid", "neighbor_id", "rank")


def _q_split_leakage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: after the deterministic hash_split,
    count per split how many docs share a content fingerprint with a
    doc in ANOTHER split — the eval-integrity gate that must run
    before any benchmark number is trusted (hash_split is keyed on
    doc_id, so byte-identical content under different ids leaks).
    One fingerprint-keyed window pass (collect_set of splits — Spark
    has no DISTINCT window aggregate), then the split-grain
    aggregate."""
    d = _t(spark, sf_dir, "documents")
    s = SAMP.hash_split(d, "doc_id", _SPLITS)
    fp = s.select(
        "split", DD.content_fingerprint("text", num_tokens=2).alias("fp")
    )
    w = Window.partitionBy("fp")
    x = fp.withColumn("n_splits", F.size(F.collect_set("split").over(w)))
    return x.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_splits") > 1).cast("long")).alias("n_leaky_docs"),
    )


def _q_oov_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage report (operators/corpus.py:oov_stats): the
    top-100 corpus vocabulary is built once (deterministic cnt-desc/
    token-asc top-k, bounded collect), shipped as a constant-folded
    map literal, and every source's token occurrences are probed
    against it inside the scan — no token explode, no join; the only
    exchange is the per-source aggregate. Exact integer
    numerator/denominator (OOV mass per feed)."""
    d = _t(spark, sf_dir, "documents")
    vocab = [r["token"] for r in CP.top_vocab(d, "text", 100).collect()]
    return CP.oov_stats(d, "text", vocab, keys=["source"])


def _q_pctile_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact order statistics: p50/p90/p99 of event value in
    cents per event type via percentile_disc WITHIN GROUP — the
    ordered-set aggregate emitted directly (the fence-derived variant
    is outliers_events; this is the raw monitoring surface). Exact
    integers: discrete percentiles SELECT a value, never interpolate,
    so both engines return identical BIGINTs."""
    e = _t(spark, sf_dir, "events")
    cents_sql = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {cents_sql})"
            ).cast("long").alias(f"p{int(p*100):02d}_cents")
            for p in (0.5, 0.9, 0.99)
        ],
    )


def _q_reconcile_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit — the referential/financial
    consistency gate single-table dq_rules cannot express: per order
    status, how many orders have NO line items at all and how many
    have a computed line total drifting >1% from the order header's
    total. Line amounts round to exact cents PER ROW (the double
    product is one deterministic IEEE expression, identical in both
    engines) and only integers are summed — so the aggregate is
    order/partition independent — and the 1% tolerance compares by
    integer cross-multiplication (|calc-total|*100 > total), never a
    float ratio. One lineitem aggregate + one order-grain join (AQE
    picks the join side; at 100 TB both sides are key-partitioned on
    the order key)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    line_cents = F.round(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * 100
    ).cast("long")
    sums = (
        li.select(F.col("l_orderkey").alias("o_orderkey"),
                  line_cents.alias("__c"))
        .groupBy("o_orderkey")
        .agg(F.sum("__c").alias("calc_cents"))
    )
    hdr = o.select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    j = hdr.join(sums, "o_orderkey", "left")
    drift = (
        F.abs(F.col("calc_cents") - F.col("total_cents")) * 100
        > F.col("total_cents")
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("calc_cents").isNull().cast("long")).alias("n_no_lines"),
        F.sum(
            (F.col("calc_cents").isNotNull() & drift).cast("long")
        ).alias("n_drift_gt_1pct"),
    )


def _q_budget_fill_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: fill a 10k-token budget with the
    highest-quality documents first (quality decile desc, doc_id asc),
    keeping every doc whose cumulative token count fits — the "best
    data under a budget" selection step of training-corpus curation.
    Priority order is encoded as ONE monotone long ((10-decile)<<44 |
    doc_id — unique, so RANGE/ROWS frames agree) and the cumulative
    sum is operators/incremental.py:running_total — the bucketed
    two-phase prefix sum (bucket = inverted decile, 11 bounded
    buckets), never a single-partition global window."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    s = d.select(
        "doc_id",
        TX.bpe_ish_token_count("text").cast("long").alias("n_tok"),
        F.round(TX.quality_score("text") * 10).cast("long").alias("qd"),
    )
    inv = (F.lit(10) - F.col("qd")).cast("long")
    s2 = s.withColumn("__ord", inv * F.lit(1 << 44) + F.col("doc_id"))
    filled = INC.running_total(
        s2, "__ord", "n_tok", bucket=inv, out_col="cum_tokens"
    )
    return filled.filter(F.col("cum_tokens") <= 10_000).select(
        "doc_id",
        F.col("qd").alias("quality_decile"),
        "n_tok",
        "cum_tokens",
    )


def _q_distinctive_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source signature vocabulary
    (operators/corpus.py:distinctive_terms): top-5 most
    over-represented tokens per feed by exact-ratio ranking (within a
    group, lift order reduces to cnt_g/cnt_all — one IEEE double
    division of exact ints, identical across engines; no totals pass).
    One corpus token aggregate; everything after is vocab-grain."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return CP.distinctive_terms(d, "source", "text", 5, min_count=5)


def _q_shingle_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content containment
    (operators/corpus.py:shingle_overlap): distinct 3-gram shingles
    shared between every source pair + per-source shingle counts — the
    syndication/contamination matrix. Posting-list self-join bounded
    by sources^2 per shingle; one corpus scan, cache released before
    return."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return CP.shingle_overlap(d, "source", "text", n=3)


def _q_dedup_rate_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate — the ingest-feed diagnostic that
    says WHICH source ships copies (and therefore what dedup will
    delete, per feed) before any dedup runs. Exact integer
    numerator/denominator per source, never a float rate. Two
    exchanges total: fingerprint-keyed window count (the dedup key
    shape), then the source-keyed aggregate."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source",
        DD.content_fingerprint("text", num_tokens=2).alias("fp"),
    )
    w = Window.partitionBy("fp")
    cnts = fp.withColumn("cnt", F.count(F.lit(1)).over(w))
    return cnts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_docs"),
    )


def _q_len_hist_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution
    (operators/histogram.py:histogram with group keys) — the corpus
    intake diagnostic (which feed ships truncated docs / walls of
    text). One algebraic aggregate on (source, bin): map side emits at
    most sources x num_bins rows per partition no matter the corpus
    size."""
    d = _t(spark, sf_dir, "documents")
    return HG.histogram(
        d, "n_chars", lo=0, width=200, num_bins=20, keys=["source"]
    )


def _q_len_pctile_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source binned length percentiles
    (operators/histogram.py:histogram_quantiles_by — the grouped
    companion histogram_quantiles refuses to fake): p50/p90 of
    n_chars per source read off the grouped histogram's integer
    cumulative ranks. Grain-sized end to end: the histogram is
    sources x bins rows and the rank probes are per-group array HOFs —
    no window over data rows, no per-group loop."""
    d = _t(spark, sf_dir, "documents")
    h = HG.histogram(d, "n_chars", lo=0, width=200, num_bins=20, keys=["source"])
    return HG.histogram_quantiles_by(h, ["source"], [500, 900]).select(
        "source",
        F.col("q_permille").cast("long").alias("q_permille"),
        "bin",
        "lo_edge",
    )


def _q_pmi_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence sufficient statistics per user universe
    (operators/cooccur.py:cooccurrence_stats): for every unordered pair
    of event types sharing a user, the exact integers (n_ab, n_a, n_b,
    n_groups) behind PMI/lift/affinity — presence-deduplicated before
    the pair join (5 distinct types cap per-user work at 10 pairs
    regardless of event volume), marginals broadcast."""
    e = _t(spark, sf_dir, "events")
    return CO.cooccurrence_stats(e, "user_id", "event_type").select(
        F.col("item_a").alias("type_a"),
        F.col("item_b").alias("type_b"),
        "n_ab",
        "n_a",
        "n_b",
        F.col("n_groups").alias("n_users"),
    )


def _q_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs (the verify stage of near-dedup).
    Integer evidence columns only; jaccard itself is a ratio of identical
    ints (bit-identical across engines)."""
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.1, max_df=100
    ).select("id_a", "id_b", "inter_cnt", "size_a", "size_b")


def _q_ngram_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT pairs
    (operators/dedup.py:ngram_containment_pairs — Broder's containment
    vs resemblance). inter*5 >= min(size) catches excerpt/expansion
    duplicates whose Jaccard sits below any useful resemblance cut (at
    sf0.01 this keeps 29 pairs where the 0.1-Jaccard query keeps 25 —
    the 4 extras are exactly the asymmetric-overlap pairs). Exact
    integer cross-multiplied threshold; same bounded posting-list
    pipeline as ngram_jaccard_docs."""
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold_num=1, threshold_den=5,
        max_df=100,
    )


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared near-dup edge list: exact word-3-gram Jaccard pairs at
    the same parameters as `ngram_jaccard_docs` (its oracle pins them)."""
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.1, max_df=100)


def _q_dedup_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the exact-Jaccard
    pair graph (operators/cluster.py — min-label propagation with
    hooking and pointer jumping, lineage-truncated per round).
    (doc_id, comp) where comp is the min doc id of the component;
    oracle is a DuckDB recursive CTE reaching the same fixpoint."""
    pairs = _ngram_pairs(spark, sf_dir)
    return CC.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("comp")
    )


def _q_cc_star_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SAME exact-Jaccard pair graph as
    dedup_cluster_docs, with the identical output contract (comp = min
    doc id of the component) and therefore the identical recursive-CTE
    oracle. The name is kept from the deleted large-star/small-star
    operator so that recorded correctness, bench and 10x-smoke results
    stay comparable across rounds."""
    pairs = _ngram_pairs(spark, sf_dir)
    return CC.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("comp")
    )


def _q_dedup_survivor_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST near-dedup (operators/cluster.py:drop_near_dups with
    priority_col): every component keeps its longest member (n_chars,
    min-id ties) instead of an arbitrary min id — the survivor policy
    real pipelines want (drop the truncated copies, keep the full
    doc). Same AQE-sized victim anti-join shape; survivor election is
    one max_by over the node-grain component relation."""
    d = _t(spark, sf_dir, "documents")
    pairs = _ngram_pairs(spark, sf_dir)
    kept = CC.drop_near_dups(d, pairs, "doc_id", priority_col="n_chars")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _q_dedup_survivor_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: drop every component member except the
    min-id survivor, then per-source corpus counts — the operation a
    training pipeline actually runs (pairs -> components -> survivors).
    The victim anti-join is AQE-sized (ids-only, but its COUNT scales
    with the duplication rate — never hint-forced); the corpus never
    shuffles until the final (tiny) per-source aggregate."""
    d = _t(spark, sf_dir, "documents")
    pairs = _ngram_pairs(spark, sf_dir)
    kept = CC.drop_near_dups(d, pairs, "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _q_embed_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (ids only — membership is
    float-safe at this threshold: nearest sim sits 1.3e-4 from 0.4,
    nine orders above accumulation noise; the sim value itself is
    last-ulp engine-specific, so it stays out of the hashed output)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_pairs(emb, sim_threshold=0.4).select("id_a", "id_b")


def _q_srp_near_dup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable sign-random-projection LSH over embeddings
    (operators/similarity.py:srp_near_dup_pairs): exact-integer SRP
    signatures (md5-derived int hyperplanes x floor(v*1e6) quantized
    vectors — bit-replayable in any engine with md5, the same
    portability contract as minhash_portable/simhash_portable), banded
    simhash-style, Hamming-verified. The hash-EXACT embedding-space
    candidate miner, complementing the float-plane lsh_near_dup_recall
    gate (floats are summation-order-sensitive; these integers are
    not)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.srp_near_dup_pairs(
        emb, "vec_id", "embedding", dim=64, num_planes=32,
        band_bits=8, max_hamming=8,
    ).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_embed_centroid_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroid sums (mean pooling — the seeding
    step for semantic clustering / IVF coarse quantizers), in exact
    integer space (floor(x*1e6) contributions, order-independent —
    operators/similarity.py:dim_sums_exact). embeddings.vec_id aligns
    with documents.doc_id; the documents side prunes to two columns and
    broadcasts nothing — the join key is the embedding row's own id."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    joined = emb.join(d, "vec_id")
    return SIM.dim_sums_exact(joined, "lang", "embedding").select(
        "lang", F.col("pos").cast("long").alias("pos"), "dim_sum_e6", "n_vecs"
    )


def _q_fingerprint_rolling_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document polynomial rolling hash over the token stream
    (engine-portable md5 token hashes -> exact DuckDB oracle)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TX.rolling_hash_fingerprint("text").alias("rolling_fp")
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a deterministic query subset.
    Rank/ids only — sim ordering is stable, its last-ulp value is not."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return SIM.cosine_topk(emb, q, 5).select("qid", "neighbor_id", "rank")


def _q_ann_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/BLAS brute-force top-k (the throughput path). Sims differ
    from a sequential fold in the last ulp, but the RANKING is exact:
    the smallest adjacent top-k sim gap on this data is 1.7e-4 — eleven
    orders of magnitude above BLAS summation noise — so ids+rank carry
    the same exact-top-k hash oracle as ann_topk_cosine (rank parity is
    additionally pytest-pinned on randomized vectors)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return SIM.cosine_topk_arrow(emb, q, 5).select("qid", "neighbor_id", "rank")


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k (hash-sampled cells, zero-shuffle assignment) run with
    nprobe == nlist: probing every cell makes the result equal the exact
    brute-force top-k WHATEVER the centroids, so the whole IVF
    machinery — sampled centroids, per-row cell argmax, probe join,
    local top-k merge — is verified against the exact-cosine SQL oracle.
    Approximate recall at nprobe < nlist stays pytest-gated
    (tests/test_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # nlist=8 halves the baked-literal assignment expression Janino has
    # to compile (the dominant cost of this query at local scale was
    # plan compilation, not execution — 4.8 s -> 2.9 s measured at sf0.1)
    return SIM.ivf_topk(emb, q, 5, nlist=8, nprobe=8).select(
        "qid", "neighbor_id", "rank"
    )


def _q_ann_ivf_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the SCALING DEFAULT index size: nlist="auto"
    (operators/similarity.py:auto_nlist — ~sqrt(n) cells from one
    count job, the standard FAISS-guideline sizing that keeps per-cell
    scan cost and probe-list cost balanced as the corpus grows) and
    nprobe="all" (probe every auto-sized cell), so the result equals
    the exact brute-force top-k and shares ann_ivf_topk's exact-cosine
    oracle. Registered beside the fixed-nlist contract queries per
    VERDICT r09 #5: the auto path carries driver evidence, not just
    unit tests — at 10x corpus the cell count grows ~3.2x instead of
    staying pinned (the fixed-nlist silent-degradation mode)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return SIM.ivf_topk(emb, q, 5, nlist="auto", nprobe="all").select(
        "qid", "neighbor_id", "rank"
    )


def _q_ann_ivf_auto_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall gate for the PRODUCTION auto-IVF
    configuration (VERDICT r10 #5): nlist="auto" (~sqrt(n) cells) with
    a BOUNDED nprobe=8 — the approximate path a 100 TB deployment
    actually runs, unlike ann_ivf_auto_topk whose nprobe="all" makes it
    exact. Same gate shape as hard_negatives_ivf_recall: exact cosine
    top-10 computed Spark-side, candidates from 8 of the auto-sized
    cells, recall@10 pinned >= 50% by integer cross-multiplication
    (measured 0.63 at sf0.001 and 0.64 at sf0.01 — the >=0.13 margin
    keeps the gate off the boundary; hash-sampled centroids on
    near-uniform synthetic embeddings are the hard case). Cell
    membership is engine-internal, so the PAIRS are not SQL-replayable
    but their QUALITY is: the oracle pins n_exact = 10 * n_queries and
    recall_ok TRUE."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = SIM.cosine_topk(emb, q, 10).select("qid", "neighbor_id")
    ivf = SIM.ivf_topk(emb, q, 10, nlist="auto", nprobe=8).select(
        "qid", "neighbor_id"
    )
    m = exact.withColumn("in_e", F.lit(1)).join(
        ivf.withColumn("in_i", F.lit(1)), ["qid", "neighbor_id"], "left"
    )
    n_exact = F.coalesce(F.sum("in_e"), F.lit(0))
    hits = F.coalesce(F.sum("in_i"), F.lit(0))
    return m.agg(
        n_exact.cast("long").alias("n_exact"),
        (hits * 100 >= n_exact * 50).alias("recall_ok"),
    )


def _q_ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized maximum-inner-product top-5 — the
    memory-bound ANN scale path (4x smaller codes than float32). The
    integer code dot product is EXACT in both engines (no ulp caveat, no
    summation-order dependence), and the quantization itself is a
    floor over correctly-rounded IEEE divides — so unlike the float
    paths, the similarity VALUES hash-verify, not just ids and ranks."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    t = SIM.quantized_topk(emb, q, 5)
    return t.select(
        "qid", "neighbor_id", F.col("rank").cast("long").alias("rank"), "dot_q"
    )


def _q_lsh_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for the 100 TB embedding near-dup path:
    random-hyperplane LSH pairs (operators/similarity.py) checked
    Spark-side against the exact O(n^2) pair set. Emits one row
    (n_exact, n_false_pos, recall_ok); the DuckDB oracle computes
    n_exact from scratch and pins n_false_pos = 0 (the exact-cosine
    verify stage makes LSH output a subset of the exact pairs) and
    recall >= 0.8 (measured 1.0 at sf0.001/sf0.01 with these seeded
    params — planes=3, tables=16)."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = SIM.cosine_pairs(emb, sim_threshold=0.4).select("id_a", "id_b")
    lsh = SIM.lsh_near_dup_pairs(
        emb, num_planes=3, num_tables=16, sim_threshold=0.4, dim=64
    ).select("id_a", "id_b")
    m = exact.withColumn("in_e", F.lit(1)).join(
        lsh.withColumn("in_l", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    # coalesce: on a corpus with NO exact pairs the full-outer join is
    # empty and the global sums are NULL — the oracle's literal row is
    # 0/0/TRUE. The 80% gate uses integer cross-multiplication
    # (5*hits >= 4*n_exact, exact in BIGINT): 0.8*n in doubles can
    # exceed the integer at the advertised boundary (0.8*5 > 4).
    n_exact = F.coalesce(F.sum("in_e"), F.lit(0))
    hits = F.coalesce(
        F.sum(
            F.when(F.col("in_e").isNotNull() & F.col("in_l").isNotNull(), 1)
            .otherwise(0)
        ),
        F.lit(0),
    )
    return m.agg(
        n_exact.cast("long").alias("n_exact"),
        F.coalesce(
            F.sum(F.when(F.col("in_e").isNull(), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_false_pos"),
        (hits * 5 >= n_exact * 4).alias("recall_ok"),
    )


def _q_salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted big x small join: events routed to one of 8 salts,
    customer metadata replicated per salt map-side (operators/skew.py).
    Result-identical to the plain equi-join — which IS the oracle — so
    the driver verifies the salting is semantics-preserving; the salt
    spread and exchange shape are pinned in tests."""
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = SKEW.salted_join(e, c, ["c_custkey"], num_salts=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        ).alias("sum_cents"),
    )


def _q_minhash_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup pipeline END-TO-END: MinHash banding candidate
    pairs (bucket join, no cross product) -> connected components ->
    (doc_id, component) — the composition a training pipeline actually
    deploys, oracle-verified as one unit (signatures, banding, pair
    filter, AND clustering replayed in DuckDB)."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_near_dup_pairs(
        d, "doc_id", "text", n=3, bands=32, jaccard_threshold=0.3
    ).select("id_a", "id_b")
    return CC.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "comp"
    )


def _q_two_stage_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage aggregation: per-(key, salt) partials, then
    per-key combine (operators/skew.py:two_stage_agg). Result-identical
    to the plain groupBy — which IS the oracle; the salted stage-1
    exchange is pinned in tests/test_skew.py."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents")
    )
    return SKEW.two_stage_agg(
        e,
        ["event_type"],
        {
            "n_events": ("cents", "count"),
            "sum_cents": ("cents", "sum"),
            "min_cents": ("cents", "min"),
            "max_cents": ("cents", "max"),
        },
    )


def _q_minhash_native_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DataFrame MinHash banding (the at-scale near-dedup path)
    through its engine-portable md5 gram/band hash, so the DuckDB oracle
    replays the ENTIRE pipeline — signatures, banding, candidate join,
    agreement filter — and value-hash-verifies the emitted pairs."""
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_near_dup_pairs(
        d, "doc_id", "text", n=3, bands=32, jaccard_threshold=0.3
    ).select(
        "id_a",
        "id_b",
        # integer-exact agreement count instead of the double ratio
        (F.col("est_jaccard") * 64).cast("long").alias("n_agree"),
    )


_MH_PORTABLE_K = 16

_SQL_EXACT_TOPK = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 25 = 0),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
  FROM embeddings e, q WHERE e.vec_id <> q.qid),
ranked AS (
  SELECT qid, neighbor_id,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT qid, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


def _q_knn_eval_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification accuracy — the standard
    embedding-quality eval: for each probe vector (the ann family's
    deterministic vec_id % 25 subset, keeping the broadcast-query
    contract), take its exact top-5 cosine neighbors (self excluded),
    majority-vote their labels (ties to the smallest label), and score
    against the probe's own label. Emits per-label exact counts and
    accuracy ppm (truncated int division). Rank ordering rides the
    ann_topk_cosine conventions (sim DESC, neighbor_id tiebreak), so
    the float path hash-replays; votes and accuracy are pure integer
    arithmetic on top."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    q = probes.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    topk = SIM.cosine_topk(emb, q, 5).select("qid", "neighbor_id")
    nb = topk.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
        ),
        "neighbor_id",
    )
    votes = nb.groupBy("qid", "nlabel").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pred = votes.groupBy("qid").agg(
        # max struct = highest count, then smallest label (negated)
        F.max(F.struct(F.col("cnt"), (-F.col("nlabel")).alias("neg")))
        .alias("m")
    ).select("qid", (-F.col("m.neg")).alias("pred"))
    scored = pred.join(
        probes.select(
            F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
        ),
        "qid",
    )
    return scored.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(
            F.when(F.col("pred") == F.col("qlabel"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    ).select(
        "label",
        "n_eval",
        "n_correct",
        F.expr(
            "(n_correct * CAST(1000000 AS BIGINT)) DIV n_eval"
        ).alias("acc_ppm"),
    )


_SQL_KNN_EVAL_EMBED = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
                  label AS qlabel
           FROM embeddings WHERE vec_id % 25 = 0),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor_id, e.label AS nlabel,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
  FROM embeddings e, q WHERE e.vec_id <> q.qid),
ranked AS (
  SELECT qid, nlabel,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored),
votes AS (
  SELECT qid, nlabel, count(*) AS cnt FROM ranked
  WHERE rank <= 5 GROUP BY 1, 2),
pred AS (
  SELECT qid, nlabel AS pred FROM
    (SELECT qid, nlabel,
            row_number() OVER (PARTITION BY qid
                               ORDER BY cnt DESC, nlabel) AS rn
     FROM votes) WHERE rn = 1),
j AS (SELECT q.qlabel, p.pred FROM pred p JOIN q ON p.qid = q.qid)
SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST((sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS acc_ppm
FROM j GROUP BY qlabel
"""


def _q_minhash_portable_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with the engine-portable md5 gram hash, emitted
    wide (one column per hash) so the DuckDB oracle replays the exact
    k-permutation pipeline bit-for-bit — full value-hash verification of
    the MinHash math, not just row counts."""
    d = _t(spark, sf_dir, "documents")
    sigs = DD.minhash_signatures(
        d, "doc_id", "text", n=3, num_hashes=_MH_PORTABLE_K
    )
    return sigs.select(
        "doc_id",
        *[F.col("sig")[i].alias(f"mh{i:02d}") for i in range(_MH_PORTABLE_K)],
    )


def _q_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for the pyspark.ml MinHashLSH path (hash
    seeds are engine-internal, so the PAIRS can't be replayed in SQL —
    but their quality can): LSH candidate pairs at threshold 0.3 are
    checked Spark-side against the exact n-gram-Jaccard pair set. Emits
    one row (n_strong, n_below_025, recall_ok); the oracle computes
    n_strong (exact pairs with J >= 0.35) from scratch and pins
    n_below_025 = 0 (approxSimilarityJoin filters candidates by the
    TRUE feature-set Jaccard, so nothing below ~threshold survives; the
    0.25 margin absorbs HashingTF index-collision noise vs shingle-set
    Jaccard) and recall >= 0.8 over the strong pairs (measured 1.0 at
    sf0.001/sf0.01 with seed=42, 8 tables; the 0.35 margin keeps the
    gate off the threshold boundary)."""
    d = _t(spark, sf_dir, "documents")
    lsh = DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, jaccard_threshold=0.3
    ).select("id_a", "id_b")
    exact = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.25
    ).select("id_a", "id_b", "jaccard")
    m = exact.withColumn("in_e", F.lit(1)).join(
        lsh.withColumn("in_l", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    # same empty-universe + integer-gate hardening as
    # _q_lsh_near_dup_recall: coalesce NULL global sums to the oracle's
    # literal 0/0/TRUE, and gate on 5*hits >= 4*n_strong in BIGINT
    # rather than 0.8*n in doubles (exact at the 80% boundary).
    strong = F.when(F.col("jaccard") >= 0.35, 1).otherwise(0)
    n_strong = F.coalesce(F.sum(strong), F.lit(0))
    hits = F.coalesce(
        F.sum(
            F.when((F.col("jaccard") >= 0.35) & F.col("in_l").isNotNull(), 1)
            .otherwise(0)
        ),
        F.lit(0),
    )
    return m.agg(
        n_strong.cast("long").alias("n_strong"),
        F.coalesce(
            F.sum(
                F.when(F.col("in_e").isNull() & F.col("in_l").isNotNull(), 1)
                .otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_below_025"),
        (hits * 5 >= n_strong * 4).alias("recall_ok"),
    )


def _q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs through the 32-bit md5-portable
    fingerprint: the DuckDB oracle replays fingerprints, pigeonhole
    banding, and the Hamming verify exactly."""
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_near_dups(
        d, "doc_id", "text", n=3, max_hamming=8, band_bits=8
    )


# --- extensions: structured streaming --------------------------------------

def _q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly windowed aggregation executed as a REAL streaming query
    (file source -> watermark -> window agg -> availableNow -> memory
    sink), then compared to the batch SQL oracle — streaming==batch
    equivalence is the correctness contract. countDistinct is unsupported
    in streaming aggs, so the user column uses approx HLL and is dropped
    from the oracle-checked projection."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_files(f"{sf_dir}/events.parquet")
    sdf = STR.read_parquet_stream(spark, src, batch.schema).transform(SRC.normalize_event_ts)
    out = STR.run_available_now(
        STR.windowed_event_counts(sdf), query_name="q_stream_hourly_mem"
    )
    return out.select("hour", "event_type", "n_events", "value_e4")


def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via applyInPandasWithState — the custom
    stateful streaming operator — run to completion and checked against
    an ANSI-SQL sessionization oracle (lag + cumulative break-sum):
    custom state logic must reproduce the declarative semantics."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_files(f"{sf_dir}/events.parquet")
    sdf = STR.read_parquet_stream(spark, src, batch.schema).transform(SRC.normalize_event_ts)
    out = STR.run_available_now(
        STR.sessionize(sdf, gap_seconds=1800),
        query_name="q_stream_sessions_mem",
        output_mode="update",
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


def _q_streaming_click_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as a REAL streaming query: clicks
    attributed to same-user views within a 24 h lookback, both streams
    watermarked (the interval bound is what makes join state finite —
    streaming/__init__.py:interval_join). Inner join emits in append
    mode as matches arrive; the batch SQL range join is the oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_files(f"{sf_dir}/events.parquet")

    def stream():
        return STR.read_parquet_stream(spark, src, batch.schema).transform(
            SRC.normalize_event_ts
        )

    clicks = (
        stream()
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
    )
    views = (
        stream()
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
    )
    joined = STR.interval_join(
        clicks, views, ["user_id"], "click_ts", "view_ts",
        lookback="24 hours", watermark="48 hours",
    )
    out = STR.run_available_now(
        joined.select("user_id", "click_id", "view_id"),
        query_name="q_stream_attrib_mem",
        output_mode="append",
    )
    return out


def _q_streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events STREAM broadcast-joined to
    the static customer dimension (re-resolved per micro-batch, no
    watermark needed — static side holds no state), then a running
    per-(segment, event_type) aggregate in complete mode. The third
    canonical streaming join shape next to stream-stream
    (streaming_click_attrib) and windowed aggs (streaming_events_hourly).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_files(f"{sf_dir}/events.parquet")
    sdf = STR.read_parquet_stream(spark, src, batch.schema).transform(SRC.normalize_event_ts)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = sdf.join(F.broadcast(cust), "user_id")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
        .cast("long")
        .alias("value_e4"),
    )
    return STR.run_available_now(agg, query_name="q_stream_enriched_mem")


# --- extensions: multimodal (binary payload) columns -----------------------

def _q_simhash_portable_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash with the engine-portable md5 gram hash — the
    DuckDB oracle replays the per-bit majority vote exactly, verifying
    the SimHash math end-to-end (not just row counts)."""
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_fingerprints(d, "doc_id", "text", n=3)


def _q_multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level media ops on synthetic payloads (documents.text encoded
    UTF-8 — the container has no real media): per-source length/digest
    stats. Exercises encode -> octet_length/md5 -> hash aggregate."""
    d = _t(spark, sf_dir, "documents")
    pay = d.select("doc_id", "source", F.encode("text", "UTF-8").alias("payload"))
    return (
        MM.payload_stats(pay)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("payload_len").cast("long").alias("total_bytes"),
            F.countDistinct("payload_md5").alias("n_distinct"),
            F.min("payload_md5").alias("min_md5"),
        )
    )


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out over binary payloads: 16-byte 'frames',
    every 4th kept, frame bytes surfaced as base64. Oracle relies on the
    corpus being pure ASCII (verified), so DuckDB's varchar substring
    equals the byte slice."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pay = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    fr = MM.sample_frames(pay, frame_bytes=16, every_nth=4)
    return fr.select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.base64("frame").alias("frame_b64"),
    )


def _q_multimodal_sniff_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-header round-trip: synthesize spec-exact PNG / WAV /
    truncated-JPEG payloads (dims derived from n_chars), then sniff the
    format from magic bytes and parse the fixed-offset header fields back
    out — all pure Column byte expressions (substring/hex/conv), no codec,
    no UDF, zero shuffle. The oracle recomputes the dims FORMULAICALLY
    (never touching bytes), so any corruption in the binary construct or
    the parse shows up as a hash mismatch."""
    d = _t(spark, sf_dir, "documents")
    nc = F.col("n_chars")
    payload = (
        F.when(
            F.col("doc_id") % 3 == 0,
            MM.synth_png((nc % 640 + 1).cast("long"), (nc % 480 + 1).cast("long")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            MM.synth_wav((F.lit(8000) + (nc % 6) * 8000).cast("long"),
                         (nc % 2 + 1).cast("long")),
        )
        .otherwise(F.concat(F.unhex(F.lit(MM.JPEG_MAGIC_HEX)),
                            F.encode("text", "UTF-8")))
    )
    pay = d.select("doc_id", payload.alias("payload"))
    dims = MM.png_dims("payload")
    fmt = MM.wav_fmt("payload")
    return pay.select(
        "doc_id",
        MM.sniff_media_type("payload").alias("media"),
        dims["width"].alias("width"),
        dims["height"].alias("height"),
        fmt["n_channels"].alias("n_channels"),
        fmt["sample_rate"].alias("sample_rate"),
    )


def _q_multimodal_audio_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-payload audio round-trip
    (operators/multimodal.py:synth_pcm_wav + pcm_features): synthesize
    a COMPLETE spec-exact mono 16-bit PCM WAV per document (44-byte
    canonical header + formulaic data chunk — the stdlib ``wave``
    module opens it), then DECODE the samples back out of the bytes
    and extract exact-integer audio features (energy, peak, zero
    crossings) — all fixed-stride byte arithmetic in native Column
    expressions: one projection, zero UDFs, zero shuffle. The oracle
    recomputes the features FORMULAICALLY (never touching bytes), so
    any corruption in the binary construct or the decode shows up as
    a hash mismatch — the audio analogue of multimodal_sniff_parse,
    extended from headers to the full data plane."""
    d = _t(spark, sf_dir, "documents")
    sr = (F.lit(8000) + (F.col("doc_id") % 6) * 8000).cast("long")
    n = (F.col("n_chars") % 96 + 8).cast("long")
    pay = d.select(
        "doc_id",
        MM.synth_pcm_wav(F.col("doc_id"), n, sr).alias("payload"),
    )
    return pay.select(
        "doc_id", MM.pcm_features("payload").alias("f")
    ).select("doc_id", "f.*")


def _q_multimodal_audio_decimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Integer audio DECIMATION on real encoded bytes
    (operators/multimodal.py:pcm_features(stride=4)): the same
    synthesize-then-decode round-trip as multimodal_audio_features,
    but only every 4th sample is read out of the data chunk — the
    cheap exact downsampling a feature pipeline runs before an
    expensive model stage (no low-pass, plain decimation by contract).
    Still one projection, zero UDFs, zero shuffle; the oracle replays
    the strided index set closed-form (sample j = formula(doc_id,
    4*j)), so a stride bug anywhere in the byte arithmetic is a hash
    mismatch."""
    d = _t(spark, sf_dir, "documents")
    sr = (F.lit(8000) + (F.col("doc_id") % 6) * 8000).cast("long")
    n = (F.col("n_chars") % 96 + 8).cast("long")
    pay = d.select(
        "doc_id",
        MM.synth_pcm_wav(F.col("doc_id"), n, sr).alias("payload"),
    )
    return pay.select(
        "doc_id", MM.pcm_features("payload", stride=4).alias("f")
    ).select("doc_id", "f.*")


def _q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling
    (operators/sampling.weighted_sample): each document kept with
    probability equal to its own weight. The weight here is
    (n_chars % 128) / 128 — a dyadic rational, exactly representable in
    IEEE double, so ``weight * buckets`` is the same exact double in
    both engines and the keep boundary can never disagree by an ulp
    (arbitrary weights are fine in production; the QUERY pins the
    cross-engine-exact surface). Zero shuffle: a pure filter."""
    from pyspark_datacol_diff_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    w = (F.col("n_chars") % 128).cast("double") / F.lit(128.0)
    return weighted_sample(d, F.col("doc_id"), w).select(
        "doc_id", "source", "n_chars"
    )


def _sql_weighted_sample_docs() -> str:
    return f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE {_SQL_BUCKET} < ((n_chars % 128)::DOUBLE / 128.0) * 10000.0
"""


def _q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot merge (operators/diff.merge_upsert): a deterministic
    update batch against orders — every 7th order re-priced (update),
    every 13th deleted, plus key-offset inserts — merged with the
    broadcast-keys/no-base-shuffle shape. Emits the merged relation's
    per-status rollup (exact integers) so the result hashes stably."""
    from pyspark_datacol_diff_spark.operators.diff import merge_upsert

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_cents") + 1000).alias("o_cents"),
            (F.col("o_orderkey") % 13 == 0).alias("__del"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 900000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_cents"),
                F.lit(False).alias("__del"),
            )
        )
    )
    merged = merge_upsert(
        o, updates, ["o_orderkey"], delete_col="__del", broadcast_updates=True
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def _sql_merge_upsert_orders() -> str:
    return """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         round(o_totalprice * 100)::BIGINT AS o_cents
  FROM orders),
upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_cents + 1000 AS o_cents,
         (o_orderkey % 13 = 0) AS del
  FROM o WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 900000000, 'N', o_cents, FALSE
  FROM o WHERE o_orderkey % 11 = 0),
merged AS (
  SELECT o_orderkey, o_orderstatus, o_cents
  FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_cents FROM upd WHERE NOT del)
SELECT o_orderstatus,
       count(*)::BIGINT AS n_orders,
       sum(o_cents)::BIGINT AS sum_cents,
       min(o_orderkey)::BIGINT AS min_key,
       max(o_orderkey)::BIGINT AS max_key
FROM merged
GROUP BY o_orderstatus
"""


def _q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for the product-quantization ANN path
    (operators/similarity.pq_*): per-subspace k-means codebooks, ADC
    candidate generation over 4-bit-scale codes, exact re-rank of the
    candidate set. PQ ids are approximate by construction (codebook
    k-means is engine-internal), so like minhash_lsh the PAIRS are not
    SQL-replayable but their QUALITY is: the exact-L2 top-10 is
    computed Spark-side and the gate pins recall@10 >= 70% by integer
    cross-multiplication (measured 0.86 at sf0.001 AND sf0.01 with
    m=8, k=16, 100 candidates — the 0.16 margin keeps the gate off the
    boundary). The oracle pins n_exact = 10 * n_queries (the corpus
    always holds 10 non-self neighbors) and recall_ok TRUE."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cb = SIM.pq_codebooks(emb, dim=64, m=8, k=16)
    pq = SIM.pq_topk_refined(emb, q, 10, cb, n_candidates=100).select(
        "qid", "neighbor_id"
    )
    l2 = F.aggregate(
        F.zip_with(
            "embedding", "qv",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    j = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.asc("__d"), F.asc("neighbor_id"))
    exact = (
        j.select("qid", F.col("vec_id").alias("neighbor_id"), l2.alias("__d"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 10)
        .select("qid", "neighbor_id")
    )
    m = exact.withColumn("in_e", F.lit(1)).join(
        pq.withColumn("in_p", F.lit(1)), ["qid", "neighbor_id"], "left"
    )
    n_exact = F.coalesce(F.sum("in_e"), F.lit(0))
    hits = F.coalesce(F.sum("in_p"), F.lit(0))
    return m.agg(
        n_exact.cast("long").alias("n_exact"),
        (hits * 10 >= n_exact * 7).alias("recall_ok"),
    )


def _q_srp_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding near-dedup — the full pipeline a training
    corpus runs, composed from this round's pieces: SRP-LSH candidate
    pairs (hash-exact, similarity.py:srp_near_dup_pairs) -> connected
    components (cluster.py) -> min-id survivor per component
    (drop_near_dups) -> per-label corpus census. The oracle replays
    EVERY stage in DuckDB (md5 planes, integer dots, banding, Hamming,
    recursive-CTE components, survivor anti-membership) — two engines,
    one bit-identical pipeline. Weak Hamming<=8 edges over near-uniform
    synthetic vectors chain into a high-diameter pair graph (27 rounds
    of plain min-label propagation at sf0.01, past its max_iter of 25);
    connected_components' hook and jump steps converge on it in 4."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = SIM.srp_near_dup_pairs(
        emb, "vec_id", "embedding", dim=64, num_planes=32,
        band_bits=8, max_hamming=8,
    )
    kept = CC.drop_near_dups(emb, pairs, "vec_id")
    return kept.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("vec_id").alias("min_kept_id"),
        F.sum("vec_id").alias("sum_kept_ids"),
    )


def _q_hard_negatives_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for the IVF-backed hard-negative miner
    (operators/similarity.py:hard_negatives_ivf — the implemented scale
    path the exact hard_negatives contract names): same query set and
    label-inequality semantics as hard_negatives_embed, but candidates
    come from nprobe=8 of nlist=16 hash-sampled cells instead of the
    full O(n*q) scan. Cell membership is engine-internal (float argmax),
    so like ann_pq_recall the PAIRS are not SQL-replayable but their
    QUALITY is: exact top-10 computed Spark-side, gate pins recall@10
    >= 55% by integer cross-multiplication (measured 0.685 at sf0.001
    and 0.735 at sf0.01 — the >=0.13 margin keeps the gate off the
    boundary; random-sampled centroids on near-uniform synthetic
    embeddings are the hard case). Oracle pins n_exact = 10 * n_queries
    and recall_ok TRUE."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    exact = SIM.hard_negatives(emb, q, 10).select("qid", "neighbor_id")
    ivf = SIM.hard_negatives_ivf(
        emb, q, 10, nlist=16, nprobe=8
    ).select("qid", "neighbor_id")
    m = exact.withColumn("in_e", F.lit(1)).join(
        ivf.withColumn("in_i", F.lit(1)), ["qid", "neighbor_id"], "left"
    )
    n_exact = F.coalesce(F.sum("in_e"), F.lit(0))
    hits = F.coalesce(F.sum("in_i"), F.lit(0))
    return m.agg(
        n_exact.cast("long").alias("n_exact"),
        (hits * 100 >= n_exact * 55).alias("recall_ok"),
    )


def _sql_ann_pq_recall() -> str:
    return """
SELECT (10 * count(*))::BIGINT AS n_exact, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 25 = 0
"""


def _q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming ingest dedup
    (streaming/dedup_stream: dropDuplicatesWithinWatermark): the events
    file is staged TWICE, with maxFilesPerTrigger=1 forcing the
    duplicate copy into a LATER micro-batch, so every drop exercises
    cross-batch keyed state — not within-batch distinct. Output must
    equal the batch relation read once: streaming==batch equivalence,
    the same contract as the other streaming queries. The generous
    watermark keeps all state for the replay; production sets it to the
    real late-arrival bound so state stays (keys per window), with the
    batch-layer exact dedup as the late backstop."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_files(
        f"{sf_dir}/events.parquet", f"{sf_dir}/events.parquet"
    )
    sdf = STR.read_parquet_stream(
        spark, src, batch.schema, max_files_per_trigger=1
    ).transform(SRC.normalize_event_ts)
    out = STR.run_available_now(
        STR.dedup_stream(sdf, ["event_id"], watermark_delay="3650 days"),
        query_name="q_stream_dedup_mem",
        output_mode="append",  # row-level stateful filter, not an agg
    )
    return out.select("event_id", "user_id", "event_type")


def _sql_streaming_dedup_events() -> str:
    return """
SELECT event_id, user_id, event_type FROM events
"""


def _q_streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation as a REAL streaming query (1-hour
    windows every 15 minutes — streaming face of
    hopping_window_events): file source -> watermark -> F.window with a
    slide -> availableNow -> memory sink, checked against the same
    DuckDB hop replay. State holds window/slide = 4x the tumbling
    window count, expired by the same watermark."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_files(f"{sf_dir}/events.parquet")
    sdf = STR.read_parquet_stream(spark, src, batch.schema).transform(
        SRC.normalize_event_ts
    )
    out = STR.run_available_now(
        STR.windowed_event_counts(sdf, slide="15 minutes"),
        query_name="q_stream_sliding_mem",
    )
    return out.select(
        F.col("hour").alias("window_start"), "event_type", "n_events", "value_e4"
    )


def _q_streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained rollup (streaming/continuous_rollup):
    the event log is split into three disjoint parquet files replayed
    one micro-batch each (maxFilesPerTrigger=1), and foreachBatch folds
    every batch's grain-sized agg_state into a versioned parquet state
    table via merge_agg_states — so the final state has seen three real
    cross-batch merges, never a full-history rescan. The oracle
    aggregates the full table directly: state-maintenance == one-shot
    aggregation is the correctness contract."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_disjoint_splits(batch, "event_id", 3)
    sdf = (
        STR.read_parquet_stream(spark, src, batch.schema, max_files_per_trigger=1)
        .transform(SRC.normalize_event_ts)
        .withColumn("cents", _cents())
    )
    return STR.continuous_rollup(
        sdf,
        ["event_type"],
        {
            "n_events": ("event_id", "count"),
            "sum_cents": ("cents", "sum"),
            "min_cents": ("cents", "min"),
            "max_cents": ("cents", "max"),
        },
        query_name="q_stream_rollup",
    )


def _q_streaming_hist_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained distribution state
    (streaming/continuous_histogram): three disjoint micro-batches are
    histogrammed and folded into the versioned parquet state via
    merge_histograms — monitoring quantiles come off the state, never
    a history rescan. The oracle histograms the full table one-shot:
    state-maintenance == direct aggregation is the contract (same
    shape as streaming_incremental_rollup, extended to
    distributions)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_disjoint_splits(batch, "event_id", 3)
    sdf = (
        STR.read_parquet_stream(spark, src, batch.schema, max_files_per_trigger=1)
        .transform(SRC.normalize_event_ts)
        .withColumn("cents", _cents())
    )
    return STR.continuous_histogram(
        sdf, "cents", lo=0, width=1000, num_bins=50,
        query_name="q_stream_hist",
    )


def _q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column data profile (operators/diff.profile_table)
    over the same engine-exact orders projection the digest gate uses:
    non-null/null/exact-distinct counts and string-space min/max per
    column — the audit report beside the digest's change gate.
    NOT balanced up front (unlike digest_orders): the cost here is the
    distinct aggregate AFTER the exchange, not scan-side expressions,
    so a pre-balance adds an exchange for no measured gain."""
    from pyspark_datacol_diff_spark.operators.diff import profile_table

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").cast("string").alias("o_date_str"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    return profile_table(o)


def _sql_profile_orders() -> str:
    cols = {
        "o_orderkey": "o_orderkey::VARCHAR",
        "o_custkey": "o_custkey::VARCHAR",
        "o_orderstatus": "o_orderstatus",
        "o_orderpriority": "o_orderpriority",
        "o_date_str": "o_orderdate::DATE::VARCHAR",
        "o_cents": "round(o_totalprice * 100)::BIGINT::VARCHAR",
    }
    parts = [
        f"""SELECT '{name}' AS col_name,
       count({expr}) AS n_values,
       sum(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT {expr}) AS n_distinct,
       min({expr}) AS min_str,
       max({expr}) AS max_str
FROM orders"""
        for name, expr in cols.items()
    ]
    return "\nUNION ALL\n".join(parts)


def _q_cap_per_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/sampling.cap_per_group): at
    most 40 docs per source, deterministic survivors (lowest doc_id
    first) — the per-domain cap of corpus curation. Rank-then-filter
    window, one group-keyed exchange, no join."""
    from pyspark_datacol_diff_spark.operators.sampling import cap_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, "source", 40, order_by=[F.col("doc_id")])


def _sql_cap_per_source_docs() -> str:
    return """
SELECT doc_id, source
FROM documents
QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 40
"""


def _q_token_rarity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact unigram-rarity signals per document
    (operators/corpus.token_rarity_stats): corpus-frequency mass,
    rarest-token count, hapax count — the no-logs replacement for a
    unigram log-prob quality score (ln is not correctly rounded across
    engines, so a float score could not be oracle-hashed)."""
    d = _t(spark, sf_dir, "documents")
    return CP.token_rarity_stats(d, "doc_id", "text")


def _sql_token_rarity_docs() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM toks WHERE tok <> ''
  GROUP BY doc_id, tok),
gc AS (
  SELECT doc_id, tf, sum(tf) OVER (PARTITION BY tok) AS gc
  FROM tf)
SELECT doc_id,
       sum(tf)::BIGINT AS n_tokens,
       sum(tf * gc)::BIGINT AS freq_mass,
       min(gc)::BIGINT AS min_tok_count,
       sum(CASE WHEN gc = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
FROM gc
GROUP BY doc_id
"""


def _q_change_intervals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style change history (operators/diff.change_intervals): each
    user's event_type stream collapsed into validity intervals
    (gaps-and-islands). One user-keyed exchange; the change-flag window,
    island window, island aggregate, and valid_to lead window all reuse
    the same HashPartitioning(user_id)."""
    from pyspark_datacol_diff_spark.operators.diff import change_intervals

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return change_intervals(
        e, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )


def _sql_change_intervals_events() -> str:
    return """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), i AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM o
), g AS (
  SELECT user_id, island, event_type,
         min(ts) AS valid_from,
         count(*)::BIGINT AS n_obs
  FROM i GROUP BY user_id, island, event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, island)
         AS valid_to,
       n_obs
FROM g
"""


def _q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/cluster.py:pagerank_exact)
    over the co-purchase graph — authority scores for the parts most
    central to basket co-occurrence (the link-graph analogue of the
    crawl-frontier / citation ordering an LLM data pipeline uses to
    prioritize documents). Edge build is the same basket-explode shape
    as copurchase_pairs_lineitem (one order-keyed shuffle, per-row pair
    expansion, pair-keyed hash agg; NOT a fact self-join), thresholded
    at >= 2 co-orders and symmetrized. Three rank rounds in scaled
    integer arithmetic — integer sums are exact and associative, so
    the result is bit-for-bit stable across partitionings and replays
    hash-exactly against the unrolled SQL oracle (float sums'
    nondeterministic low bits could not be oracled). Two shuffles per
    round; pagerank_exact checkpoints after every 3rd round and after
    the last, so the 3 rounds run as one job over 6 chained shuffles —
    lineage depth is bounded by construction, and the one checkpoint
    retires its blocks per the cluster-module contract."""
    edges = _copurchase_edges(spark, sf_dir)
    r = CC.pagerank_exact(edges, iterations=3, symmetric=True)
    return r.select(
        F.col("node").alias("part"), F.col("rank").alias("rank_scaled")
    )


_SQL_PAGERANK_COPURCHASE = """
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT p1 AS src, p2 AS dst FROM prs
          UNION ALL SELECT p2, p1 FROM prs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
c1 AS (SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r1 AS (SELECT n.node,
              CAST(150000 + (85 * coalesce(c1.s, 0)) // 100 AS BIGINT) AS rank
       FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
c2 AS (SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r2 AS (SELECT n.node,
              CAST(150000 + (85 * coalesce(c2.s, 0)) // 100 AS BIGINT) AS rank
       FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
c3 AS (SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
       FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r3 AS (SELECT n.node,
              CAST(150000 + (85 * coalesce(c3.s, 0)) // 100 AS BIGINT) AS rank
       FROM nodes n LEFT JOIN c3 ON n.node = c3.node)
SELECT node AS part, rank AS rank_scaled FROM r3
"""


def _q_ppr_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED integer-exact PageRank
    (operators/cluster.py:pagerank_exact with seed_pred) over the same
    co-purchase graph as pagerank_copurchase: initial mass and the
    per-round reset land only on the seed parts (partkey % 20 == 0),
    so ranks measure proximity to the seed set — the seed-document
    expansion ordering of a training-data pipeline (grow a curated
    seed corpus along the similarity/link graph) rather than global
    authority. Identical dataflow and checkpoint schedule (one job for
    the 3 rounds); the seed predicate is engine-portable integer
    arithmetic, so the unrolled SQL oracle replays every round
    hash-exactly."""
    edges = _copurchase_edges(spark, sf_dir)
    r = CC.pagerank_exact(
        edges,
        iterations=3,
        seed_pred=lambda n: n % 20 == 0,
        symmetric=True,
    )
    return r.select(
        F.col("node").alias("part"), F.col("rank").alias("rank_scaled")
    )


def _sql_ppr_copurchase(
    iterations: int = 3, scale: int = 1_000_000,
    dnum: int = 85, dden: int = 100, seed_sql: str = "{n}node % 20 = 0",
) -> str:
    """Unrolled personalized-PageRank replay: same edge build as
    _SQL_PAGERANK_COPURCHASE, seed-gated init and reset. ``{n}`` in
    ``seed_sql`` becomes the table qualifier where one is needed."""
    reset = (scale * (dden - dnum)) // dden
    seed_r0 = seed_sql.replace("{n}", "")
    seed_rk = seed_sql.replace("{n}", "n.")
    parts = ["""
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT p1 AS src, p2 AS dst FROM prs
          UNION ALL SELECT p2, p1 FROM prs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),"""]
    parts.append(f"""
r0 AS (SELECT node,
              CAST(CASE WHEN {seed_r0} THEN {scale} ELSE 0 END AS BIGINT)
                AS rank
       FROM nodes)""")
    for k in range(1, iterations + 1):
        parts.append(f""",
c{k} AS (SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
       FROM edges e JOIN r{k - 1} r ON e.src = r.node
                    JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r{k} AS (SELECT n.node,
              CAST(CASE WHEN {seed_rk} THEN {reset} ELSE 0 END
                   + ({dnum} * coalesce(c{k}.s, 0)) // {dden} AS BIGINT)
                AS rank
       FROM nodes n LEFT JOIN c{k} ON n.node = c{k}.node)""")
    parts.append(
        f"\nSELECT node AS part, rank AS rank_scaled FROM r{iterations}"
    )
    return "".join(parts)


_SQL_PPR_COPURCHASE = _sql_ppr_copurchase()


def _q_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling (operators/cluster.py:kcore_peel)
    over the co-purchase graph: 4 peel rounds at k=3 strip low-support
    tendrils, leaving the dense co-occurrence core (the graph-curation
    step before community/authority work). Fixed rounds keep the job
    count data-independent and the SQL oracle an unrolled round per
    peel; each round is one map-side-combined degree aggregate + two
    semi joins against the shrinking survivor set."""
    pairs = _copurchase_pairs(spark, sf_dir)
    r = CC.kcore_peel(pairs, src_col="p1", dst_col="p2", k=3, rounds=4)
    return r.select(F.col("node").alias("part"), "degree")


def _sql_kcore_copurchase(k: int = 3, rounds: int = 4) -> str:
    parts = ["""
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
e0 AS (SELECT p1 AS s, p2 AS d FROM prs
       UNION ALL SELECT p2, p1 FROM prs)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
d{r} AS (SELECT s, count(*) AS deg FROM e{r - 1} GROUP BY s),
k{r} AS (SELECT s FROM d{r} WHERE deg >= {k}),
e{r} AS (SELECT e.s, e.d FROM e{r - 1} e
         JOIN k{r} a ON e.s = a.s JOIN k{r} b ON e.d = b.s)""")
    parts.append(f"""
SELECT s AS part, CAST(count(*) AS BIGINT) AS degree
FROM e{rounds} GROUP BY s""")
    return "".join(parts)


_SQL_KCORE_COPURCHASE = _sql_kcore_copurchase()


def _q_wpagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGE-WEIGHTED integer-exact PageRank
    (operators/cluster.py:pagerank_exact with weight_col) over the
    co-purchase graph, weighted by co-order counts: each edge carries
    ``(rank * n_orders) div W_out`` so frequently-co-bought parts pull
    proportionally more authority than the uniform walk gives them.
    Same dataflow, same checkpoint schedule; the plan-side positive-
    weight guard and integer arithmetic keep the unrolled SQL oracle
    hash-exact."""
    edges = _copurchase_edges(spark, sf_dir, weighted=True)
    r = CC.pagerank_exact(
        edges,
        iterations=3,
        weight_col="n_orders",
        symmetric=True,
    )
    return r.select(
        F.col("node").alias("part"), F.col("rank").alias("rank_scaled")
    )


def _sql_wpagerank_copurchase(
    iterations: int = 3, scale: int = 1_000_000,
    dnum: int = 85, dden: int = 100,
) -> str:
    reset = (scale * (dden - dnum)) // dden
    parts = ["""
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT p1 AS src, p2 AS dst, n AS w FROM prs
          UNION ALL SELECT p2, p1, n FROM prs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg
        FROM edges GROUP BY src)"""]
    parts.append(f""",
r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)""")
    for k in range(1, iterations + 1):
        parts.append(f""",
c{k} AS (SELECT e.dst AS node,
              CAST(sum((r.rank * e.w) // d.deg) AS BIGINT) AS s
       FROM edges e JOIN r{k - 1} r ON e.src = r.node
                    JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r{k} AS (SELECT n.node,
              CAST({reset} + ({dnum} * coalesce(c{k}.s, 0)) // {dden}
                   AS BIGINT) AS rank
       FROM nodes n LEFT JOIN c{k} ON n.node = c{k}.node)""")
    parts.append(
        f"\nSELECT node AS part, rank AS rank_scaled FROM r{iterations}"
    )
    return "".join(parts)


_SQL_WPAGERANK_COPURCHASE = _sql_wpagerank_copurchase()


def _q_khop_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS (operators/cluster.py:khop_reachable) from seed
    parts (partkey % 50 == 0) over the symmetrized co-purchase graph,
    2 hops: the crawl-frontier / seed-expansion primitive with min-hop
    labels. Frontier pattern — per hop one keyed semi join + one anti
    join, frontier derived from the checkpointed visited union (the
    retired-round lineage trap is pinned by test); fixed hops keep the
    job count data-independent and the oracle an unrolled round per
    hop."""
    edges = _copurchase_edges(spark, sf_dir)
    r = CC.khop_reachable(edges, lambda n: n % 50 == 0, hops=2)
    return r.select(F.col("node").alias("part"), "hop")


def _sql_khop_copurchase(hops: int = 2, seed_sql: str = "node % 50 = 0") -> str:
    parts = ["""
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT p1 AS src, p2 AS dst FROM prs
          UNION ALL SELECT p2, p1 FROM prs),
nodes AS (SELECT DISTINCT src AS node FROM edges)"""]
    parts.append(f""",
v0 AS (SELECT node, 0 AS hop FROM nodes WHERE {seed_sql}),
f0 AS (SELECT node FROM v0)""")
    for i in range(1, hops + 1):
        parts.append(f""",
f{i} AS (SELECT DISTINCT e.dst AS node FROM edges e
       WHERE e.src IN (SELECT node FROM f{i - 1})
         AND e.dst NOT IN (SELECT node FROM v{i - 1})),
v{i} AS (SELECT node, hop FROM v{i - 1}
       UNION ALL SELECT node, {i} FROM f{i})""")
    parts.append(
        f"\nSELECT node AS part, CAST(hop AS INTEGER) AS hop FROM v{hops}"
    )
    return "".join(parts)


_SQL_KHOP_COPURCHASE = _sql_khop_copurchase()


def _q_heavy_hitters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram heavy hitters (operators/sketch.py:heavy_hitters)
    — every word bigram covering >= 0.1% of all bigram occurrences,
    with EXACT counts, via the two-pass Misra-Gries shape: a bounded-
    state sketch pass (<= k+1 rows per task collected, never a
    vocabulary-sized exchange) shortlists candidates, then an exact
    count pass with the candidate isin-literal applied map-side before
    the only aggregate — the same constant-folded pre-exchange kill as
    the Bloom semi join. The final integer cross-multiplied phi cut
    makes the sketch invisible in the answer (superset guarantee), so
    a plain exact-SQL oracle replays it. balance_partitions for the
    same reason as bigram_counts_docs: all heavy per-doc work precedes
    the first shuffle."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    grams = d.select(
        TX.gram_multiset(
            F.filter(TX.tokens(F.lower(F.col("text"))), lambda x: x != ""),
            2,
        ).alias("grams")
    )
    hh = SK.heavy_hitters(grams, "grams", phi_num=1, phi_den=1000)
    return hh.select(F.col("item").alias("gram"), "cnt")


_SQL_HEAVY_HITTERS_DOCS = """
WITH t AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
g AS (
  SELECT tk[i] || ' ' || tk[i + 1] AS gram
  FROM t, LATERAL unnest(range(1, len(tk))) AS r(i)
  WHERE len(tk) >= 2),
c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
SELECT gram, cnt FROM c, tot WHERE cnt * 1000 >= n
"""


def _q_diverse_sample_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced corpus subsetting
    (operators/similarity.py:srp_diverse_sample): cap at 4 vectors per
    8-bit SRP angular bucket, smallest-id survivors — the cluster-
    balanced sample selection step, exact-integer deterministic (same
    md5-plane portability contract as srp_near_dup_embed, so the
    bucketing replays bit-for-bit in SQL). No per-bucket window sort:
    zero-shuffle Arrow signature matmul, vectorized batch-local
    min-n prune, then ONE bucket-keyed bounded-array fold."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.srp_diverse_sample(
        emb, "vec_id", "embedding", dim=64, num_planes=8, per_bucket=4
    )


_SQL_DIVERSE_SAMPLE_EMBED = """
WITH planes AS (
  SELECT p, i,
         (('0x' || substr(md5(p || ':' || i), 1, 8))::BIGINT % 1999) - 999 AS c
  FROM (SELECT unnest(generate_series(0, 7)) AS p),
       (SELECT unnest(generate_series(0, 63)) AS i)),
q AS (
  SELECT vec_id, i - 1 AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings) u),
dots AS (
  SELECT q.vec_id, planes.p, sum(q.x * planes.c) AS d
  FROM q JOIN planes ON q.i = planes.i GROUP BY 1, 2),
sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END)
              AS BIGINT) AS sig
  FROM dots GROUP BY vec_id),
r AS (SELECT sig AS bucket, vec_id,
             row_number() OVER (PARTITION BY sig ORDER BY vec_id) AS rn
      FROM sig)
SELECT bucket, vec_id FROM r WHERE rn <= 4
"""


def _q_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type percentile winsorization audit
    (operators/quality.py:winsorize): every event whose exact-cents
    value was clamped to its event_type's [p01, p99] discrete fences —
    the outlier-clipping step of feature prep, emitted as the rows the
    clip actually changed. Fences ride a broadcast (one group-grain
    ordered-set aggregate); the event stream itself never shuffles,
    no window, no sort. Discrete percentiles select existing integers,
    so fences and clamped values are engine-portable BIGINTs."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", _cents().alias("cents")
    )
    w = QA.winsorize(e, "cents", keys=["event_type"], lower=0.01, upper=0.99)
    return w.filter(
        F.col("cents") != F.col("cents_winsorized")
    ).select(
        "event_id",
        "event_type",
        "cents",
        F.col("cents_winsorized").alias("cents_w"),
    )


_SQL_WINSORIZE_EVENTS = """
WITH c AS (
  SELECT event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
f AS (
  SELECT event_type,
         CAST(quantile_disc(cents, 0.01) AS BIGINT) AS lo,
         CAST(quantile_disc(cents, 0.99) AS BIGINT) AS hi
  FROM c GROUP BY event_type)
SELECT c.event_id, c.event_type, c.cents,
       CAST(least(greatest(c.cents, f.lo), f.hi) AS BIGINT) AS cents_w
FROM c JOIN f USING (event_type)
WHERE c.cents < f.lo OR c.cents > f.hi
"""


def _q_scoped_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy scoped repair (operators/diff.py:scoped_diff):
    digest-tree localization first, then the row diff over ONLY the
    leaf buckets whose digests differ — at 100 TB the full-outer join
    reads the 1/256 key slices that moved, not the snapshots. Output
    contract: IDENTICAL rows to diff_orders_detail (every difference
    lives in a dirty bucket by the digest-tree construction), which is
    why the oracle is the plain full-diff SQL — the scoping must be
    invisible in the answer, exactly like the Bloom prune and the
    heavy-hitter sketch. Digest self-consistency only (both trees are
    computed by the same engine), so the default all-column value set
    is safe here even with double/date columns."""
    s1, s2 = _orders_pair(spark, sf_dir)
    d = DIFF_OPS.scoped_diff(s1, s2, ["o_orderkey"])
    return d.select(
        F.col("o_orderkey_s1").alias("o_orderkey"),
        F.explode("CompColArr").alias("e"),
    ).select(
        "o_orderkey",
        F.col("e.col_name").alias("col_name"),
        F.col("e.s1_value").alias("s1_value"),
        F.col("e.s2_value").alias("s2_value"),
    )


def _q_heavy_hitters_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed hot bigrams (operators/sketch.py:heavy_hitters_by):
    every gram covering >= 0.5% of ITS OWN source's occurrences, exact
    counts — the per-feed monitoring grain (which source's boilerplate,
    which feed's hot join key). Grouped MG sketch bounded at
    partitions x sources x (k+1) rows, composite-key broadcast semi
    join before the lone aggregate; per-source totals ride the same
    sketch pass. Same balance_partitions rationale as the ungrouped
    variant."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    grams = d.select(
        "source",
        TX.gram_multiset(
            F.filter(TX.tokens(F.lower(F.col("text"))), lambda x: x != ""),
            2,
        ).alias("grams"),
    )
    hh = SK.heavy_hitters_by(
        grams, "grams", ["source"], phi_num=1, phi_den=200
    )
    return hh.select("source", F.col("item").alias("gram"), "cnt")


_SQL_HEAVY_HITTERS_BY_SOURCE = """
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
g AS (
  SELECT source, tk[i] || ' ' || tk[i + 1] AS gram
  FROM t, LATERAL unnest(range(1, len(tk))) AS r(i)
  WHERE len(tk) >= 2),
c AS (SELECT source, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g GROUP BY 1, 2),
tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY source)
SELECT c.source, c.gram, c.cnt
-- null-safe: heavy_hitters_by treats a NULL group key as a real group
-- ("an unlabeled feed still gets its hot keys reported"); USING drops
-- the NULL group (r11 boundary)
FROM c JOIN tot ON c.source IS NOT DISTINCT FROM tot.source
WHERE c.cnt * 200 >= tot.n
"""


def _q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained heavy hitters
    (streaming/continuous_heavy_hitters): the corpus replays in three
    disjoint micro-batches, each Misra-Gries-sketched and folded into a
    k-bounded versioned summary state (mergeable-summaries trim — the
    state stays <= k counters while the stream grows, unlike an exact
    vocabulary rollup whose state is vocabulary-sized by definition);
    the final state's candidates + totals feed the exact count pass
    over the accumulated corpus. The oracle is the same plain exact
    SQL as heavy_hitters_docs: streaming maintenance AND the sketch
    must both be invisible in the answer."""
    batch = _t(spark, sf_dir, "documents")
    src = STR.stage_disjoint_splits(batch, "doc_id", 3)
    grams_of = lambda df: df.select(
        TX.gram_multiset(
            F.filter(TX.tokens(F.lower(F.col("text"))), lambda x: x != ""),
            2,
        ).alias("grams")
    )
    sdf = STR.read_parquet_stream(
        spark, src, batch.schema, max_files_per_trigger=1
    )
    state = STR.continuous_heavy_hitters(
        grams_of(sdf), "grams", k=1000, query_name="q_stream_hh"
    )
    hh = SK.heavy_hitters_from_summary(
        grams_of(batch), "grams", state.collect(), phi_num=1, phi_den=1000
    )
    return hh.select(F.col("item").alias("gram"), "cnt")


def _q_cumulative_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily converted-user acquisition curve: first PURCHASE day per
    user (one user-keyed hash agg over the filtered scan — 'purchase'
    pushes to the parquet scan; first-EVENT day is degenerate on this
    data, every user appears on day one), new-converter counts per day
    (grain-sized), then the cumulative count via the distributed
    two-phase prefix sum (operators/incremental.py:running_total,
    year-bucketed) — never a global single-task Window.orderBy. Day is
    emitted as its ISO string in both engines (the engine-portable
    date grain, same convention as retention_cohorts_events)."""
    e = SRC.normalize_event_ts(_t(spark, sf_dir, "events"))
    first = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d"))
    )
    daily = first.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    out = INC.running_total(
        daily, "d", "new_users", bucket=F.year("d"), out_col="cum_users"
    )
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.col("cum_users").cast("long").alias("cum_users"),
    )


_SQL_CUMULATIVE_USERS_DAILY = """
WITH f AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events
  WHERE event_type = 'purchase' GROUP BY user_id),
d AS (SELECT d, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY d)
SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
FROM d
"""


# ---------------------------------------------------------------------------
# partsupp family (round 6): the driver testdata ships no partsupp table, so
# it is SYNTHESIZED deterministically from part x supplier on both engines
# (SRC.synth_partsupp / _PARTSUPP_SQL — identical integer arithmetic), which
# unlocks the four TPC-H shapes that need it: Q2 (correlated min-cost
# supplier), Q11 (HAVING vs scalar total), Q16 (NOT-IN exclusion +
# count-distinct), Q20 (correlated agg over lineitem).
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
WITH ps0 AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey * 4 + i.i) % (SELECT count(*) FROM supplier) AS ps_suppkey
  FROM part CROSS JOIN (VALUES (0),(1),(2),(3)) AS i(i)
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 17 + ps_suppkey * 31) % 9999 + 1 AS ps_availqty,
         (ps_partkey * 131 + ps_suppkey * 773) % 92000 + 90000
           AS ps_supplycost_cents
  FROM ps0
)
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SRC.synth_partsupp(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "supplier")
    )


def _eu_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier x nation x region slice for EUROPE — a broadcastable dim
    chain (supplier is the 10k*SF TPC-H dim, never fact-sized)."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


def _q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each candidate part, the EUROPE supplier(s)
    offering it at minimum cost — the classic correlated scalar
    subquery, decorrelated Spark-side into ONE window min over the
    part-partitioned slice (same exchange the result grouping needs
    anyway; the oracle keeps the correlated-subquery form). Candidate
    parts and the supplier dim chain both broadcast, so partsupp — the
    only fact-shaped relation — is pruned map-side before its single
    exchange. Ties on min cost all surface, as in the spec; the final
    ORDER BY is a total order (s_name/p_partkey break every tie), so
    LIMIT 100 is deterministic cross-engine."""
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    cand = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(_eu_suppliers(spark, sf_dir)),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
    )
    w = Window.partitionBy("ps_partkey")
    return (
        cand.withColumn(
            "__min", F.min("ps_supplycost_cents").over(w)
        )
        .filter(F.col("ps_supplycost_cents") == F.col("__min"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "ps_supplycost_cents",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_SQL_Q2_MIN_COST_SUPPLIER = _PARTSUPP_SQL + """
SELECT s_acctbal, s_name, n_name, ps.ps_partkey AS p_partkey,
       ps.ps_supplycost_cents
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size <= 10 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
  AND ps.ps_supplycost_cents = (
    SELECT min(ps2.ps_supplycost_cents)
    FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE ps2.ps_partkey = ps.ps_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def _q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value for one region's
    suppliers, kept only when above a threshold derived from ALL
    part values — HAVING against a scalar-subquery aggregate. TPC-H's
    fixed fraction (0.0001/SF) is a constant retuned per scale factor;
    here the threshold is self-scaling — 1.5x the mean part value
    (value*n*2 > 3*total, exact integers cross-multiplied, ~20% of
    parts at every SF) — so the query is non-degenerate from sf0.001
    to 100 TB without retuning. The (total, count) pair is an
    aggregate OVER the per-part aggregate (1 row, broadcast back);
    one exchange on ps_partkey; the supplier slice broadcasts."""
    eu = _eu_suppliers(spark, sf_dir).select("s_suppkey")
    val = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(eu), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents") * F.col("ps_availqty")
            ).alias("value_cents")
        )
    )
    tot = val.agg(
        F.sum("value_cents").alias("__tot"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_cents") * F.col("__n") * 2 > F.col("__tot") * 3
        )
        .select("ps_partkey", "value_cents")
    )


_SQL_Q11_IMPORTANT_STOCK = _PARTSUPP_SQL + """,
eu AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'),
val AS (
  SELECT ps_partkey,
         CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT)
           AS value_cents
  FROM partsupp JOIN eu ON ps_suppkey = s_suppkey
  GROUP BY ps_partkey)
SELECT ps_partkey, value_cents
FROM val
WHERE value_cents * (SELECT count(*) FROM val) * 2
      > (SELECT sum(value_cents) FROM val) * 3
"""


def _q_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) bucket, excluding low-balance suppliers — the NOT-IN
    subquery becomes a broadcast ANTI join (equivalent here: the
    exclusion key is non-null by construction), applied to partsupp
    BEFORE the part join so the excluded rows never reach the
    aggregate. Filtered part broadcasts; the count-distinct shuffles
    on the grouping key with partial aggregation."""
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000.0)
        .select("s_suppkey")
    )
    pf = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        _partsupp(spark, sf_dir)
        .join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(pf), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


_SQL_Q16_SUPPLIER_CNT = _PARTSUPP_SQL + """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND ps_suppkey NOT IN
    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
GROUP BY p_brand, p_type, p_size
"""


def _q_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose stock of 'large%' parts
    exceeds half of what they actually shipped in 1996 — a correlated
    aggregate over lineitem, decorrelated into a (partkey, suppkey)
    pre-aggregate joined back on the pair key. Lineitem reduces
    map-side to pair grain BEFORE its one exchange; the candidate part
    list broadcasts as a semi join; the qualifying-supplier set
    (bounded by the supplier dim) broadcasts into the final semi. The
    correlated form's empty-group semantics (NULL sum -> excluded) are
    matched by the inner join. Quantities are integral doubles, summed
    as exact longs; the half threshold is the cross-multiplied
    2*availqty > sum."""
    big = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("large%"))
        .select("p_partkey")
    )
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
    )
    qual = (
        _partsupp(spark, sf_dir)
        .join(
            F.broadcast(big), F.col("ps_partkey") == F.col("p_partkey"), "semi"
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("sum_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    # no orderBy: the driver compare is order-insensitive, and a
    # total-order sort would add a rangepartitioning exchange (and a
    # scale-lint warn) for nothing
    # qual is supplier-key-grain (a keyed distinct): bounded by the
    # supplier dimension but still data-derived, so the semi join is
    # not hint-forced — AQE broadcasts it from the measured size
    return (
        _t(spark, sf_dir, "supplier")
        .join(qual, F.col("s_suppkey") == F.col("ps_suppkey"), "semi")
        .select("s_suppkey", "s_name")
    )


_SQL_Q20_POTENTIAL_PROMOTION = _PARTSUPP_SQL + """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM partsupp
  WHERE ps_partkey IN
      (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
    AND ps_availqty * 2 > (
      SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem
      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'))
ORDER BY s_name
"""


def _q_diff_orders_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core diff under injected JOIN-KEY SKEW, measured rather than
    asserted (round-5 verdict #7): s2's key is corrupted to a single
    hot value (-1) on 20% of rows — the "fat-finger key collapse" a
    reconciliation diff exists to catch — so one SMJ partition of the
    full-outer join carries 20% of a snapshot. The hot key appears on
    ONE side only (s1 keys stay unique), so output stays linear
    (those rows surface as S2_ONLY; no m x n blowup) and the PK-unique
    contract is violated exactly the way real corrupted feeds violate
    it. AQE cannot skew-split a full-outer join (both sides are
    preserved), so this entry pins what the plan actually does with
    the hot partition — the 10x smoke records the growth. Output is
    the 4-row flag census (the full join still executes end to end).
    """
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s1 = o.filter(k % 101 != 0)
    s2 = o.withColumn(
        "o_orderstatus",
        F.when(k % 13 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
    ).withColumn("o_orderkey", F.when(k % 5 == 0, F.lit(-1)).otherwise(k))
    return flag_counts(diff(s1, s2, ["o_orderkey"]))


_SQL_DIFF_ORDERS_SKEWED = f"""
WITH s1 AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0),
s2 AS (SELECT CASE WHEN o_orderkey % 5 = 0 THEN -1 ELSE o_orderkey END
         AS o_orderkey,
       o_custkey,
       CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END
         AS o_orderstatus,
       o_totalprice, o_orderdate, o_orderpriority
       FROM orders),
j AS (SELECT s1.o_orderkey AS k1, s2.o_orderkey AS k2,
             s1.o_custkey AS c1, s2.o_custkey AS c2,
             s1.o_orderstatus AS st1, s2.o_orderstatus AS st2,
             s1.o_totalprice AS tp1, s2.o_totalprice AS tp2,
             s1.o_orderdate AS od1, s2.o_orderdate AS od2,
             s1.o_orderpriority AS pr1, s2.o_orderpriority AS pr2
      FROM s1 FULL OUTER JOIN s2 ON s1.o_orderkey = s2.o_orderkey)
SELECT {_ORDERS_FLAG_SQL} AS "Flag", count(*) AS cnt FROM j GROUP BY 1
"""


def _q_kmeans_cells_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer fixed-iteration Lloyd k-means over the embeddings
    (operators/similarity.py:kmeans_exact_assign) — the deterministic
    IVF coarse-quantizer trainer. Quantized vectors, md5-ordered
    seeds, exact squared-integer distances with first-min tie-break,
    truncated-integer-division refits: every step replays bit-for-bit
    in the unrolled SQL oracle (the pyspark.ml float fit cannot be
    hash-oracled — partition-order low bits). Assignment is a
    zero-shuffle centroid-literal projection; each refit is one
    (cell, dim)-grain map-side-combined aggregate with an index-grain
    (nlist x dim) driver collect."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.kmeans_exact_assign(e, nlist=4, iterations=2)


def _q_kmeans_cosine_pairs_embed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-bucketed embedding near-dup pairs
    (operators/similarity.py:kmeans_bucketed_cosine_pairs) — the third
    embedding-dedup formulation next to exact O(n^2) cosine_pairs and
    SRP-LSH banding: the integer-exact Lloyd cells bound the pair
    space (one cell-keyed equi-join, never all-pairs), and the cosine
    threshold is decided WITHOUT floats via a DECIMAL(38,0) square
    comparison over the same quantized vectors the assignment scored.
    Replays hash-identically in DuckDB HUGEINT."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.kmeans_bucketed_cosine_pairs(
        e, nlist=8, iterations=2, sim_num=2, sim_den=5
    )


def _kmeans_cte_parts(
    nlist: int, iterations: int, dim: int, src: str = "embeddings",
) -> tuple[list, int]:
    """Shared unrolled-iteration CTE chain replaying
    kmeans_exact_assign in DuckDB: same quantization, same md5 seed
    order, same tie-breaks, same truncated integer division (DuckDB
    ``//`` and Spark ``div`` both truncate toward zero; Python's
    floors, hence _tdiv on the driver). ``src`` is the relation the
    chain clusters (default the full embeddings view; pass a
    parenthesized subquery to replay a bounded registry query).
    Returns (cte_sql_parts, n_assign) where ``a{n_assign}`` is the
    final (vec_id, qv, cell) assignment — consumers append their own
    final SELECT."""
    parts = [f"""
WITH q AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
           FROM {src}),
seed AS (SELECT vec_id, qv,
                row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
         FROM q
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {nlist}),
c0 AS (SELECT cell, qv AS cv FROM seed)"""]
    n_assign = iterations + 1  # refit loop + the final assignment
    for k in range(1, n_assign + 1):
        parts.append(f""",
d{k} AS (SELECT q.vec_id, q.qv, c.cell,
            list_aggregate(list_transform(list_zip(q.qv, c.cv),
              p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS dist
         FROM q CROSS JOIN c{k - 1} c),
a{k} AS (SELECT vec_id, qv, cell FROM
           (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d{k})
         WHERE rn = 1)""")
        if k <= iterations:
            parts.append(f""",
s{k} AS (SELECT cell, i, sum(qv[i]) AS s, count(*) AS n
         FROM a{k} CROSS JOIN generate_series(1, {dim}) AS g(i)
         GROUP BY cell, i),
c{k} AS (SELECT c.cell, coalesce(m.cv, c.cv) AS cv
         FROM c{k - 1} c LEFT JOIN
           (SELECT cell, list(s // n ORDER BY i) AS cv
            FROM s{k} GROUP BY cell) m USING (cell))""")
    return parts, n_assign


def _sql_kmeans_cells_embed(
    nlist: int = 4, iterations: int = 2, dim: int = 64,
) -> str:
    parts, n_assign = _kmeans_cte_parts(nlist, iterations, dim)
    parts.append(
        f"\nSELECT vec_id, CAST(cell AS INTEGER) AS cell FROM a{n_assign}"
    )
    return "".join(parts)


def _sql_kmeans_cosine_pairs_embed(
    nlist: int = 4, iterations: int = 2,
    dim: int = 64, sim_num: int = 2, sim_den: int = 5,
) -> str:
    """Cell-bucketed exact-integer cosine pairs on top of the same
    unrolled kmeans chain: the threshold replays Spark's DECIMAL(38,0)
    square comparison in DuckDB HUGEINT (both 128-bit exact)."""
    parts, n_assign = _kmeans_cte_parts(nlist, iterations, dim)
    parts.append(f""",
f AS (SELECT vec_id, qv, cell,
        CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum')
             AS BIGINT) AS n2
      FROM a{n_assign}),
pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_aggregate(list_transform(list_zip(a.qv, b.qv),
           z -> z[1] * z[2]), 'sum') AS BIGINT) AS dot_q,
         a.n2 AS na2, b.n2 AS nb2
       FROM f a JOIN f b ON a.cell = b.cell AND a.vec_id < b.vec_id)
SELECT id_a, id_b, dot_q, na2, nb2 FROM pr
WHERE na2 > 0 AND nb2 > 0 AND dot_q >= 0
  AND CAST(dot_q AS HUGEINT) * dot_q * {sim_den * sim_den}
      >= {sim_num * sim_num} * CAST(na2 AS HUGEINT) * nb2""")
    return "".join(parts)


_SQL_KMEANS_CELLS_EMBED = _sql_kmeans_cells_embed()
_SQL_KMEANS_COSINE_PAIRS_EMBED = _sql_kmeans_cosine_pairs_embed(nlist=8)
_SQL_MUTUAL_KNN_IVF_EMBED = _sql_mutual_knn_ivf_embed()


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

# --- round-9 additions ---------------------------------------------------


def _q_winnow_fp_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.py:winnow_fingerprints —
    Schleimer/Wilkerson/Aiken, SIGMOD 2003, the MOSS algorithm): k=4
    token grams, window w=5 minima, distinct selected hashes per doc,
    exploded to (doc_id, fp) rows. Pure in-row Column algebra (md5
    gram hashes, nested transform/slice/array_min — no shuffle, no
    UDF); the DuckDB oracle replays every hash bit-for-bit."""
    # balance first: the gram-hash projection is the CPU stage, and a
    # single-row-group scan would pin it to one core (sources note)
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return TX.winnow_fingerprints(
        d.select("doc_id", "text"), "text", k=4, w=5, out_col="__fps"
    ).select("doc_id", F.explode(F.col("__fps")).alias("fp"))


_SQL_WINNOW_FP_BODY = """
wt AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '') AS tk
  FROM documents),
wg AS (
  SELECT doc_id,
    CASE WHEN len(tk) < 4 THEN CAST([] AS BIGINT[])
    ELSE list_transform(range(1, len(tk) - 4 + 2), i ->
      ('0x' || substr(md5(array_to_string(tk[i:i+3], ' ')), 1, 15))::BIGINT
        % 2147483647)
    END AS hs
  FROM wt),
wf AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
         WHEN len(hs) < 5 THEN [list_min(hs)]
         ELSE list_sort(list_distinct(
           list_transform(range(1, len(hs) - 5 + 2),
                          j -> list_min(hs[j:j+4]))))
    END AS fps
  FROM wg)
"""

_SQL_WINNOW_FP_DOCS = "WITH " + _SQL_WINNOW_FP_BODY + """
SELECT doc_id, unnest(fps) AS fp FROM wf
"""


def _q_winnow_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style shared-fingerprint document pairs
    (operators/dedup.py:winnow_shared_pairs): the winnowing guarantee
    — any shared run of >= w+k-1 = 8 tokens surfaces — makes this the
    no-false-negative long-overlap detector at ~2/(w+1) the posting
    volume of full shingling. Posting-list self-join on the
    fingerprint key with the max_df=100 hot-fingerprint guard (same
    cap-bias contract as ngram_jaccard_pairs, replayed in the oracle
    as a HAVING bound)."""
    d = SRC.balance_partitions(_t(spark, sf_dir, "documents"))
    return DD.winnow_shared_pairs(
        d, "doc_id", "text", k=4, w=5, min_shared=2, max_df=100
    )


_SQL_WINNOW_PAIRS_DOCS = "WITH " + _SQL_WINNOW_FP_BODY + """,
post AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wf),
keep AS (SELECT fp FROM post GROUP BY fp HAVING count(*) <= 100)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM post a
JOIN keep USING (fp)
JOIN post b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def _q_cluster_purity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component LABEL PURITY (operators/cluster.py:
    cluster_purity): over the shared exact-Jaccard pair graph's
    connected components, each component's size, majority-source
    count, and exact purity_ppm — the over-merge detector for dedup
    graphs (a low-purity component means the similarity threshold
    chained unrelated sources together). Two keyed aggregates + one
    equi-join; oracle reuses the recursive-CTE components fixpoint."""
    d = _t(spark, sf_dir, "documents")
    pairs = _ngram_pairs(spark, sf_dir)
    comps = CC.connected_components(pairs, "id_a", "id_b")
    return CC.cluster_purity(
        comps,
        d.select(F.col("doc_id").alias("node"), F.col("source").alias("label")),
    )


_SQL_CLUSTER_PURITY_DOCS = _SQL_CC_PREFIX + """,
pm AS (
  SELECT c.comp, d.source AS l FROM comp c
  JOIN documents d ON c.node = d.doc_id),
pl AS (SELECT comp, l, count(*) AS c FROM pm GROUP BY 1, 2)
SELECT comp, CAST(sum(c) AS BIGINT) AS size,
       CAST(max(c) AS BIGINT) AS majority_n,
       CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS purity_ppm
FROM pl GROUP BY comp
"""


def _q_mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MEDIAN/MAD outlier census per event type
    (operators/quality.py:mad_robust_stats, k=3) over value in cents —
    the 50%-breakdown alternative to the IQR fences of
    outliers_events: a contaminated group cannot drag its own fence.
    Both medians are percentile_disc order statistics (exact BIGINTs
    in both engines, the pctile_by_type convention)."""
    e = _t(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    return QA.mad_robust_stats(cents, ["event_type"], "cents", k=3)


_SQL_MAD_OUTLIERS_EVENTS = """
WITH b AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL),
med AS (
  SELECT event_type, count(*) AS n,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)
           AS median
  FROM b GROUP BY 1),
dev AS (
  SELECT b.event_type, med.n, med.median, abs(b.v - med.median) AS d
  FROM b JOIN med USING (event_type)),
mad AS (
  SELECT event_type, n, median,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY d) AS BIGINT)
           AS mad
  FROM dev GROUP BY 1, 2, 3)
SELECT m.event_type, CAST(m.n AS BIGINT) AS n, m.median, m.mad,
       CAST(sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY 1, 2, 3, 4
"""


def _q_interarrival_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival-time census
    (operators/range_join.py:interarrival_stats): count/min/max/sum and
    the discrete-median of consecutive-event gaps in exact
    microseconds — the activity-cadence feature behind churn and bot
    detection. One user-partitioned lag window + one keyed aggregate;
    tied timestamps are order-free (a tied block contributes the same
    gap multiset under any permutation)."""
    e = _t(spark, sf_dir, "events")
    return RJ.interarrival_stats(e, ["user_id"], "ts")


_SQL_INTERARRIVAL_USERS = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap_us,
       CAST(max(gap) AS BIGINT) AS max_gap_us,
       CAST(sum(gap) AS BIGINT) AS sum_gap_us,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap) AS BIGINT)
         AS p50_gap_us
FROM g WHERE gap IS NOT NULL
GROUP BY user_id
"""


def _q_doc_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (operators/corpus.py:
    doc_keywords, k=3): top terms by exact-integer TF-IDF
    ``tf * (n_docs * 1e6 DIV df)``, ties by ascending term. The
    vocabulary-grain df join is AQE-sized (the r09 forced_broadcast
    lint class — never a hint-forced broadcast of a token domain);
    the per-doc top-k window sees one doc's terms, never the corpus."""
    d = _t(spark, sf_dir, "documents")
    return CP.doc_keywords(d, "doc_id", "text", k=3)


_SQL_DOC_KEYWORDS_DOCS = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dfk AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs
        FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfk.df_docs,
         CAST(tf.tf * (CAST(n.n_docs AS HUGEINT) * 1000000 // dfk.df_docs)
              AS BIGINT) AS score
  FROM tf JOIN dfk USING (term) CROSS JOIN n),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rnk
  FROM scored)
SELECT doc_id, term, tf, df_docs, score, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
"""


def _q_join_skew_lineitem_partsupp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pre-flight join-skew diagnostic (operators/skew.py:
    join_skew_probe): which part keys would dominate a lineitem x
    partsupp join — per-key counts on both sides (full-outer, so
    one-sided keys surface as dropped-row findings) and the exact
    output-pair product, top 25 by product. The hung-stage postmortem
    turned into a measurement; offenders feed salted_join or AQE
    tuning."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk")
    )
    ps = _partsupp(spark, sf_dir).select(F.col("ps_partkey").alias("pk"))
    return SKEW.join_skew_probe(li, ps, ["pk"], top=25)


_SQL_JOIN_SKEW_LINEITEM_PARTSUPP = _PARTSUPP_SQL + """,
lc AS (SELECT l_partkey AS pk, count(*) AS n_left FROM lineitem GROUP BY 1),
rc AS (SELECT ps_partkey AS pk, count(*) AS n_right FROM partsupp GROUP BY 1)
SELECT pk, CAST(coalesce(n_left, 0) AS BIGINT) AS n_left,
       CAST(coalesce(n_right, 0) AS BIGINT) AS n_right,
       CAST(coalesce(n_left, 0) * coalesce(n_right, 0) AS BIGINT)
         AS pairs_out
FROM lc FULL OUTER JOIN rc USING (pk)
ORDER BY pairs_out DESC, pk ASC
LIMIT 25
"""


def _q_label_coherence_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding coherence diagnostic (operators/
    similarity.py:label_centroid_coherence): ||sum of the label's
    quantized vectors||^2 DIV n in exact integers — the
    encoder-collapse / label-drift signal with no float normalization.
    One (label, position)-keyed sum (|labels| x dim shuffle rows, not
    corpus-sized), squares in DECIMAL(38,0) replaying HUGEINT."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.label_centroid_coherence(emb)


_SQL_LABEL_COHERENCE_EMBED = """
WITH q AS (
  SELECT label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
  FROM embeddings),
e AS (
  SELECT label, i, qv[i] AS v
  FROM q CROSS JOIN unnest(range(1, len(qv) + 1)) AS t(i)),
s AS (SELECT label, i, sum(v) AS s FROM e GROUP BY 1, 2),
ss AS (SELECT label, sum(CAST(s AS HUGEINT) * s) AS ssq FROM s GROUP BY 1),
n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
SELECT ss.label, CAST(n.n_vecs AS BIGINT) AS n_vecs,
       CAST(ss.ssq // n.n_vecs AS BIGINT) AS coherence_q
FROM ss JOIN n USING (label)
"""


def _q_streaming_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-user CUSUM drift monitor
    (streaming/continuous_cusum) — the second ORDER-SENSITIVE
    continuous fold: cusum is a prefix statistic, so a per-batch
    window restarts every key at each batch boundary; the (C, M) =
    (total S, min prefix) state algebra extends it exactly across the
    three time-contiguous micro-batches. Value in cents, drift 3500,
    alarm threshold 50000 ($500 cumulative exceedance). The oracle is
    the straight batch SQL — streaming == batch equivalence for a
    non-commutative stateful fold is the contract, and a restarted
    prefix flips max_cusum/n_alarms on some user and fails the hash."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = STR.stage_time_splits(batch, "ts", 3, tiebreak_cols=["event_id"])
    sdf = (
        STR.read_parquet_stream(
            spark, src, batch.schema, max_files_per_trigger=1
        )
        .transform(SRC.normalize_event_ts)
        .withColumn(
            "cents",
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        )
    )
    return STR.continuous_cusum(
        sdf,
        ["user_id"],
        "ts",
        "cents",
        drift=3500,
        threshold=50000,
        tiebreak_cols=["event_id"],
        query_name="q_stream_cusum",
    )


_SQL_STREAMING_CUSUM_EVENTS = """
WITH s AS (
  SELECT user_id, ts, event_id,
         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) - 3500)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S
  FROM events),
c AS (
  SELECT user_id,
         S - least(0, min(S) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)) AS cusum
  FROM s)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(cusum) AS BIGINT) AS max_cusum,
       CAST(sum(CASE WHEN cusum > 50000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms
FROM c GROUP BY user_id
"""


def _q_funnel_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel (operators/range_join.py:
    funnel_windowed): view -> click -> purchase where each stage must
    land within 30 minutes of the entity's latest QUALIFIED previous
    stage — the attribution-window semantics order-only funnel_events
    cannot express. One user-keyed sort shared by the chained
    running-max windows; integer-exact counts."""
    e = _t(spark, sf_dir, "events")
    return RJ.funnel_windowed(
        e, ["user_id"], "ts", "event_type",
        ["view", "click", "purchase"],
        within_seconds=1800, tiebreak_cols=["event_id"],
    )


_SQL_FUNNEL_WINDOWED_EVENTS = """
WITH s1 AS (
  SELECT user_id, ts, event_id, event_type,
         max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last1
  FROM events),
s2 AS (
  SELECT *,
         (event_type = 'click' AND last1 IS NOT NULL
          AND epoch_us(ts) - last1 <= 1800000000) AS q2
  FROM s1),
s3 AS (
  SELECT *,
         max(CASE WHEN q2 THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last2
  FROM s2),
per_key AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS r1,
         max(CASE WHEN q2 THEN 1 ELSE 0 END) AS r2,
         max(CASE WHEN event_type = 'purchase' AND last2 IS NOT NULL
                  AND epoch_us(ts) - last2 <= 1800000000
                  THEN 1 ELSE 0 END) AS r3
  FROM s3 GROUP BY user_id)
SELECT CAST(sum(r1) AS BIGINT) AS n_stage1,
       CAST(sum(r2) AS BIGINT) AS n_stage2,
       CAST(sum(r3) AS BIGINT) AS n_stage3
FROM per_key
"""


def _q_seasonal_residuals_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-adjusted anomaly census (operators/range_join.py:
    seasonal_residual_census): residuals against each (type,
    hour-of-week) cell's integer mean, per-type max |residual| and
    count above $200 — the outlier gate that knows a Friday-peak value
    is not a 4am value. Cell means are sum DIV n (trunc, DuckDB //);
    the cell join is AQE-sized."""
    e = _t(spark, sf_dir, "events")
    cents = e.select(
        "event_type", "ts",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    return RJ.seasonal_residual_census(
        cents, "event_type", "ts", "cents", threshold=20000
    )


_SQL_SEASONAL_RESIDUALS_EVENTS = """
WITH b AS (
  SELECT event_type AS type,
         CAST(dayofweek(ts) * 24 + hour(ts) AS BIGINT) AS how,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL),
cells AS (
  SELECT type, how, sum(v) // count(*) AS exp FROM b GROUP BY 1, 2),
r AS (
  SELECT b.type, b.v - cells.exp AS r
  FROM b JOIN cells USING (type, how))
SELECT type, CAST(count(*) AS BIGINT) AS n,
       CAST(max(abs(r)) AS BIGINT) AS max_abs_residual,
       CAST(sum(CASE WHEN abs(r) > 20000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM r GROUP BY type
"""


def _q_top_share_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic concentration (operators/histogram.py:top_share): the
    share of all events held by the 5 heaviest users, in exact ppm —
    the Lorenz top-slice behind capacity/abuse questions and the
    direct skew headline for a user-keyed shuffle. TakeOrdered cut
    with ascending-key tiebreak; one keyed count + two scalars."""
    e = _t(spark, sf_dir, "events")
    return HG.top_share(e, ["user_id"], top_k=5)


_SQL_TOP_SHARE_USERS_EVENTS = """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
top AS (SELECT n FROM c ORDER BY n DESC, user_id ASC LIMIT 5),
tot AS (SELECT count(*) AS n_keys, sum(n) AS n_rows FROM c),
ta AS (SELECT count(*) AS top_k, sum(n) AS top_rows FROM top)
SELECT CAST(tot.n_keys AS BIGINT) AS n_keys,
       CAST(tot.n_rows AS BIGINT) AS n_rows,
       CAST(ta.top_k AS BIGINT) AS top_k,
       CAST(ta.top_rows AS BIGINT) AS top_rows,
       CAST(ta.top_rows * 1000000 // tot.n_rows AS BIGINT) AS share_ppm
FROM ta CROSS JOIN tot
"""


def _q_clustering_coeff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the shared near-dup
    pair graph (operators/cluster.py:local_clustering — Watts-Strogatz
    2*tri/(deg*(deg-1)) in exact ppm, composing the degree-oriented
    triangle counter): separates tight duplicate communities
    (PPM) from hub/chain noise (0). Left join keeps
    triangle-free nodes; degree >= 2 only."""
    pairs = _ngram_pairs(spark, sf_dir)
    return CC.local_clustering(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "degree", "n_tri", "lcc_ppm"
    )


_SQL_CLUSTERING_COEFF_DOCS = "WITH " + _SQL_NGRAM_PAIRS_BODY + """,
tri3 AS (
  SELECT a.id_a AS u, a.id_b AS v, b.id_b AS w
  FROM pairs a
  JOIN pairs b ON b.id_a = a.id_b
  JOIN pairs c ON c.id_a = a.id_a AND c.id_b = b.id_b),
members AS (
  SELECT u AS node FROM tri3
  UNION ALL SELECT v FROM tri3
  UNION ALL SELECT w FROM tri3),
tric AS (SELECT node, count(*) AS n_tri FROM members GROUP BY node),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT id_a AS node FROM pairs
    UNION ALL SELECT id_b FROM pairs) d
  GROUP BY node)
SELECT deg.node AS doc_id, CAST(deg.degree AS BIGINT) AS degree,
       CAST(coalesce(tric.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(coalesce(tric.n_tri, 0) * 2 * 1000000 //
            (deg.degree * (deg.degree - 1)) AS BIGINT) AS lcc_ppm
FROM deg LEFT JOIN tric USING (node)
WHERE deg.degree >= 2
"""



# ---------------------------------------------------------------------------
# round-10 additions
# ---------------------------------------------------------------------------

_CENTS_ORDERS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _q_pivot_orders_status_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PIVOT rollup: order count and exact revenue cents per
    (priority, status) cell, statuses pivoted to columns with an
    EXPLICIT value list (["F","O","P"]) — the deterministic-schema
    form (a values-less pivot runs a distinct-scan job and its column
    set follows the data; at 100 TB the explicit list is both the
    single-pass plan and the stable contract). Absent cells coalesce
    to 0 so the result is total. Oracle: conditional aggregation
    (count/sum FILTER), the relational equivalent of the same cells."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.select(
            "o_orderpriority",
            "o_orderstatus",
            F.expr(_CENTS_ORDERS).alias("__cents"),
        )
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__cents").alias("cents"),
        )
    )
    zero = F.lit(0).cast("long")
    return wide.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(f"{st}_{m}"), zero).alias(
                f"{st.lower()}_{m}"
            )
            for st in ("F", "O", "P")
            for m in ("n", "cents")
        ],
    )


_SQL_PIVOT_ORDERS = f"""
WITH b AS (SELECT o_orderpriority, o_orderstatus,
                  {_CENTS_ORDERS} AS cents FROM orders)
SELECT o_orderpriority,
  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f_n,
  CAST(coalesce(sum(cents) FILTER (o_orderstatus = 'F'), 0) AS BIGINT) AS f_cents,
  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o_n,
  CAST(coalesce(sum(cents) FILTER (o_orderstatus = 'O'), 0) AS BIGINT) AS o_cents,
  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p_n,
  CAST(coalesce(sum(cents) FILTER (o_orderstatus = 'P'), 0) AS BIGINT) AS p_cents
FROM b GROUP BY 1
"""


def _q_spearman_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type MONOTONE TREND detector (operators/quality.py:
    spearman_ppm): exact-ppm Spearman rank correlation between event
    value (cents) and time — "is this event type's value drifting?"
    robust to any monotone transform, where Pearson is not. Ranks are
    row_number over (x, event_id) / (ts, event_id) total orders (the
    documented tie-broken contract, bit-replayable), the rho arithmetic
    is DECIMAL(38,0) end-to-end and emits through the checked BIGINT
    cast."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        "ts",
        "event_id",
    )
    return QA.spearman_ppm(
        b, ["event_type"], "cents", "ts", tiebreak_cols=["event_id"]
    )


_SQL_SPEARMAN_TREND = """
WITH b AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rx,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS ry
  FROM b),
a AS (SELECT event_type, count(*) AS n,
             sum((CAST(rx AS HUGEINT) - ry) * (rx - ry)) AS sd2
      FROM r GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(1000000 - (CAST(6 AS HUGEINT) * 1000000 * sd2)
            // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT) AS rho_ppm
FROM a WHERE n >= 2
"""


def _q_hapax_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HAPAX LEGOMENA census (operators/corpus.py:
    hapax_census): tokens, types, once-occurring types, and the exact
    hapax share in ppm — the vocabulary-richness drift signal one rung
    past TTR (template-heavy sources collapse it, OCR noise explodes
    it). One (source, token)-grain map-side-combined count — the only
    corpus-sized exchange — then a source-grain reduce."""
    d = _t(spark, sf_dir, "documents")
    return CP.hapax_census(d, ["source"])


_SQL_HAPAX_BY_SOURCE = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents),
g AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
       CAST((count(*) FILTER (c = 1)) * 1000000 // count(*) AS BIGINT)
         AS hapax_share_ppm
FROM g GROUP BY 1
"""


def _q_golden_record_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY-RESOLUTION survivor merge (operators/dedup.py:
    golden_record) over the shared exact-Jaccard near-dup components:
    every multi-member cluster elects, per field (lang, source), its
    most frequent non-null value with (count DESC, value ASC)
    tie-break — the master-data "golden record" step AFTER the pair
    miners + connected components. rep_doc_id = min member id. The
    oracle replays the recursive-CTE components fixpoint, the same
    string-space election windows, and the conditional-aggregate pivot
    back to one row per cluster."""
    d = _t(spark, sf_dir, "documents")
    pairs = _ngram_pairs(spark, sf_dir)
    comps = CC.connected_components(pairs, "id_a", "id_b")
    m = d.join(comps, d["doc_id"] == comps["node"]).select(
        "comp", "doc_id", "lang", "source"
    )
    return DD.golden_record(m, "comp", "doc_id", ["lang", "source"])


_SQL_GOLDEN_RECORD = (
    _SQL_CC_PREFIX
    + """,
m AS (SELECT c.comp, d.doc_id, d.lang, d.source
      FROM comp c JOIN documents d ON d.doc_id = c.node),
sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_members,
              min(doc_id) AS rep_doc_id
       FROM m GROUP BY 1 HAVING count(*) >= 2),
st AS (SELECT comp, 'lang' AS f, lang AS v FROM m WHERE lang IS NOT NULL
       UNION ALL
       SELECT comp, 'source', source FROM m WHERE source IS NOT NULL),
cn AS (SELECT st.comp, f, v, count(*) AS c
       FROM st JOIN sz ON sz.comp = st.comp GROUP BY 1, 2, 3),
el AS (SELECT comp, f, v FROM (
         SELECT comp, f, v,
                row_number() OVER (PARTITION BY comp, f
                                   ORDER BY c DESC, v ASC) AS rn
         FROM cn) WHERE rn = 1),
w AS (SELECT comp,
             max(CASE WHEN f = 'lang' THEN v END) AS lang,
             max(CASE WHEN f = 'source' THEN v END) AS source
      FROM el GROUP BY 1)
SELECT sz.comp, sz.n_members, sz.rep_doc_id, w.lang, w.source
FROM sz LEFT JOIN w ON w.comp = sz.comp
"""
)


def _q_block_volume_winnow_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOCKING pre-flight census (operators/dedup.py:blocking_volume)
    over the winnowing fingerprint postings (k=4, w=5 — the same
    posting relation winnow_pairs_docs self-joins): block-size
    histogram plus each size's candidate-pair volume n_blocks * s *
    (s-1) / 2 in DECIMAL with the checked BIGINT emit. The
    LSH-specific sibling of join_skew_probe — it prices the coming
    self-join (and names the hot-fp size class max_df must cap)
    BEFORE any pair materializes."""
    d = _t(spark, sf_dir, "documents")
    fps = TX.winnow_fingerprints(
        d.select(F.col("doc_id").alias("__id"), "text"),
        "text",
        k=4,
        w=5,
        out_col="__wn_out",
    )
    post = fps.select(
        "__id", F.explode(F.col("__wn_out")).alias("fp")
    ).distinct()
    return DD.blocking_volume(post, ["fp"])


_SQL_BLOCK_VOLUME_WINNOW = (
    "WITH "
    + _SQL_WINNOW_FP_BODY
    + """,
post AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wf),
sz AS (SELECT fp, count(*) AS block_size FROM post GROUP BY 1)
SELECT CAST(block_size AS BIGINT) AS block_size,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(CAST(count(*) AS HUGEINT) * block_size * (block_size - 1)
            // 2 AS BIGINT) AS pairs
FROM sz GROUP BY block_size
"""
)


def _q_weighted_sample_aes_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sample (operators/sampling.py:
    weighted_hash_sample): the 50 docs with the smallest md5(id) DIV
    n_chars rank key — the integer h/w sibling of A-ES exponential-key
    weighted sampling (documented contract: monotone in the weight,
    reproducible, engine-replayable — exact A-ES needs log/pow floats
    no cross-engine hash can replay). One TakeOrdered top-k, never a
    global sort; non-positive weights raise at execution."""
    d = _t(spark, sf_dir, "documents")
    return SAMP.weighted_hash_sample(
        d.select("doc_id", "n_chars"), "doc_id", "n_chars", 50
    ).select("doc_id", "n_chars", F.col("__wkey").alias("wkey"))


_SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars,
       CAST(('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            // CAST(n_chars AS BIGINT) AS BIGINT) AS wkey
FROM documents
ORDER BY wkey, doc_id LIMIT 50
"""


def _q_collapse_repeats_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consecutive-duplicate collapse census (operators/range_join.py:
    collapse_consecutive): per event type, rows before, runs kept
    (each run's first row), and repeats dropped — the sequence-hygiene
    pass run before funnels/paths/Markov models so a triple-fired
    tracker cannot count as three steps. One entity-keyed lag window
    over the (ts, event_id) total order + two keyed aggregates."""
    e = _t(spark, sf_dir, "events")
    kept = RJ.collapse_consecutive(
        e, ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"]
    )
    before = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_before")
    )
    after = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    # eqNullSafe: a NULL event-type group must survive the join (plain
    # equi-join drops it, while the oracle's GROUP BY emits it) — same
    # null-safe-group convention as sketch.heavy_hitters_by (ADVICE r10)
    return (
        before.join(
            after, before["event_type"].eqNullSafe(after["event_type"])
        )
        .drop(after["event_type"])
        .select(
            "event_type",
            "n_before",
            "n_kept",
            (F.col("n_before") - F.col("n_kept")).alias("n_dropped"),
        )
    )


_SQL_COLLAPSE_REPEATS = """
WITH k AS (
  SELECT event_type,
         CASE WHEN lag(1) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) IS NULL
                OR lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS keep
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped
FROM k GROUP BY 1
"""


def _q_q18_large_volume_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose lineitem
    quantity total exceeds 300, joined back to customer. The HAVING
    subquery becomes aggregate-then-semi-shape: lineitem reduces to
    order grain FIRST (map-side combined — the only corpus-sized
    exchange, on the key the join needs anyway), the qualifying order
    list joins orders on the same key, and customer is a broadcast-
    sized dim the planner sizes via AQE. Quantities are integral, so
    the threshold is an exact integer predicate."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum("qty").alias("total_qty")
    ).filter(F.col("total_qty") > 300)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.expr(_CENTS_ORDERS).alias("cents")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        per_order.join(o, per_order["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "total_qty", "cents")
    )


_SQL_Q18 = f"""
WITH po AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS total_qty
            FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
SELECT c.c_custkey, c.c_name, o.o_orderkey, po.total_qty,
       {_CENTS_ORDERS} AS cents
FROM po JOIN orders o ON o.o_orderkey = po.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


def _q_q22_idle_balance_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity, adapted to this
    schema's columns): customers with above-average positive account
    balance and no URGENT orders (every customer here has SOME order,
    so the spec's no-orders test is vacuous on this data — the urgent
    variant keeps the anti-join shape selective), rolled up per market
    segment. The AVG scalar subquery is one grouping-free aggregate
    broadcast back as an exact integer CROSS-MULTIPLIED predicate
    (cents * n_pos > sum_pos_cents — no float divide, no engine
    rounding); the no-urgent-orders test is a LEFT ANTI join on the
    customer key over the priority-filtered orders (the filter pushes
    to the scan)."""
    cents = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.expr(cents).alias("cents")
    )
    pos = c.filter(F.col("cents") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum("cents").alias("sum_pos"),
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("cents") * F.col("n_pos") > F.col("sum_pos"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    )
    return rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("balance_cents"),
    )


_SQL_Q22 = """
WITH c AS (SELECT c_custkey, c_mktsegment,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents
           FROM customer),
p AS (SELECT count(*) AS n_pos, sum(cents) AS sum_pos FROM c WHERE cents > 0),
rich AS (SELECT c.* FROM c, p
         WHERE CAST(c.cents AS HUGEINT) * p.n_pos > p.sum_pos
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT'))
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS balance_cents
FROM rich GROUP BY 1
"""



def _q_chi2_source_lang_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency independence drift gate (operators/quality.py:
    chi2_ppm): the exact-ppm Pearson chi-square of the (source, lang)
    mix — joint-shift detection the marginals alone miss. Sum-of-
    squares identity keeps it to OBSERVED cells (no category cross
    join); per-cell truncated integer terms replay in HUGEINT."""
    d = _t(spark, sf_dir, "documents")
    return QA.chi2_ppm(d, "source", "lang")


_SQL_CHI2_SOURCE_LANG = """
WITH obs AS (SELECT source AS r, lang AS c, count(*) AS o
             FROM documents GROUP BY 1, 2),
rm AS (SELECT r, sum(o) AS rn FROM obs GROUP BY 1),
cm AS (SELECT c, sum(o) AS cn FROM obs GROUP BY 1),
tot AS (SELECT sum(rn) AS n, count(*) AS n_row_cats FROM rm),
nc AS (SELECT count(*) AS n_col_cats FROM cm),
cells AS (SELECT (CAST(o AS HUGEINT) * o * t.n * 1000000)
                   // (CAST(rn AS HUGEINT) * cn) AS term,
                 t.n, t.n_row_cats
          FROM obs
          JOIN rm ON obs.r IS NOT DISTINCT FROM rm.r
          JOIN cm ON obs.c IS NOT DISTINCT FROM cm.c
          CROSS JOIN tot t),
s AS (SELECT n, n_row_cats, sum(term) AS st FROM cells GROUP BY 1, 2)
SELECT CAST(s.n AS BIGINT) AS n,
       CAST(s.n_row_cats AS BIGINT) AS n_row_cats,
       CAST(nc.n_col_cats AS BIGINT) AS n_col_cats,
       CAST((s.n_row_cats - 1) * (nc.n_col_cats - 1) AS BIGINT) AS dof,
       CAST(st - CAST(s.n AS HUGEINT) * 1000000 AS BIGINT) AS chi2_ppm
FROM s, nc
"""


def _q_simpson_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini-Simpson vocabulary diversity (operators/
    corpus.py:simpson_diversity): 1 - sum(p_i^2) in exact ppm — the
    concentration complement of the hapax census (head vs tail of the
    token distribution); entropy needs logs no cross-engine arithmetic
    replays, Simpson is one exact DECIMAL division per group."""
    d = _t(spark, sf_dir, "documents")
    return CP.simpson_diversity(d, ["source"])


_SQL_SIMPSON_DIVERSITY = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents),
g AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
a AS (SELECT source, sum(c) AS n_tokens, count(*) AS n_types,
             sum(CAST(c AS HUGEINT) * c) AS sq
      FROM g GROUP BY 1)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(1000000 - (sq * 1000000)
            // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
         AS simpson_ppm
FROM a
"""


def _q_mwu_click_view_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample MANN-WHITNEY U (operators/quality.py:mann_whitney_u2)
    between click and view event values — the stochastic-dominance
    drift direction KS throws away. Average-rank ties via the DOUBLED
    integer statistic (u2 = 2U, always exact); the same value-grain
    two-phase prefix machinery as ks_drift_events."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    return QA.mann_whitney_u2(b, "event_type", "cents", "click", "view")


_SQL_MWU_CLICK_VIEW = """
WITH b AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
vc AS (
  SELECT cents,
         count(*) FILTER (event_type = 'click') AS ca,
         count(*) FILTER (event_type = 'view') AS cb
  FROM b GROUP BY 1),
c AS (
  SELECT ca, cb, ca + cb AS t,
         sum(ca + cb) OVER (ORDER BY cents) AS cum
  FROM vc),
s AS (
  SELECT sum(ca) AS na, sum(cb) AS nb,
         sum(CAST(ca AS HUGEINT) * (2 * (cum - t) + t + 1)) AS r2a
  FROM c)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS BIGINT) AS u2_a,
       CAST(2 * CAST(na AS HUGEINT) * nb
            - (r2a - CAST(na AS HUGEINT) * (na + 1)) AS BIGINT) AS u2_b,
       CAST(((r2a - CAST(na AS HUGEINT) * (na + 1)) * 1000000)
            // (2 * CAST(na AS HUGEINT) * nb) AS BIGINT) AS auc_ppm
FROM s
"""


def _q_acf_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type lag-1 AUTOCORRELATION of event value (operators/
    quality.py:autocorr_ppm) — serial dependence over the (ts,
    event_id) total order, exact cross-multiplied integers with a
    sign-split DIV (truncation toward zero in both engines). The
    self-similarity complement of spearman_trend_events' monotone
    drift."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        "ts",
        "event_id",
    )
    return QA.autocorr_ppm(
        b, ["event_type"], "cents", "ts", lag=1, tiebreak_cols=["event_id"]
    )


_SQL_ACF_VALUE = """
WITH b AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
l AS (
  SELECT event_type, x,
         lag(x) OVER (PARTITION BY event_type
                      ORDER BY ts, event_id) AS xl
  FROM b),
a AS (
  SELECT event_type,
         count(*) AS n,
         sum(x) AS s,
         count(xl) AS n_pairs,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * xl) AS sxy,
         sum(CASE WHEN xl IS NOT NULL THEN x END) AS sxp,
         sum(xl) AS slp
  FROM l GROUP BY 1),
t AS (
  SELECT event_type, n, n_pairs,
         CAST(n AS HUGEINT) * n * sxy
           - CAST(n AS HUGEINT) * s * (sxp + slp)
           + CAST(n_pairs AS HUGEINT) * s * s AS num,
         CAST(n AS HUGEINT) * n * sxx
           - CAST(n AS HUGEINT) * s * s AS den
  FROM a WHERE n > 1)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
                 ELSE -(((-num) * 1000000) // den) END AS BIGINT)
         AS acf_ppm
FROM t WHERE den <> 0
"""


def _q_kappa_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the labeled lang column and the n-gram
    heuristic's prediction (operators/quality.py:cohens_kappa_ppm over
    operators/text.py:lang_id) — chance-corrected agreement, the
    label-quality gate raw accuracy can fake via majority collapse.
    NULL is a real category and the diagonal is null-safe; exact
    cross-multiplied integers, sign-split DIV."""
    d = _t(spark, sf_dir, "documents")
    p = d.select(
        F.col("lang").alias("actual"),
        TX.lang_id("text").alias("detected"),
    )
    return QA.cohens_kappa_ppm(p, "actual", "detected")


def _sql_kappa_langid_docs() -> str:
    sels, case, _langs = _sql_lang_parts()
    return f"""
WITH s AS (
  SELECT lang,
       {sels}
  FROM documents),
p AS (SELECT lang AS ra, {case} AS rb FROM s),
obs AS (SELECT ra, rb, count(*) AS c FROM p GROUP BY 1, 2),
am AS (SELECT ra, sum(c) AS an FROM obs GROUP BY 1),
bm AS (SELECT rb, sum(c) AS bn FROM obs GROUP BY 1),
mm AS (SELECT coalesce(sum(CAST(an AS HUGEINT) * bn), 0) AS mm
       FROM am JOIN bm ON am.ra IS NOT DISTINCT FROM bm.rb),
d AS (SELECT sum(c) AS n,
             coalesce(sum(CASE WHEN ra IS NOT DISTINCT FROM rb
                                 THEN c END), 0) AS dd
      FROM obs),
na AS (SELECT count(*) AS n_cats_a FROM am),
nb AS (SELECT count(*) AS n_cats_b FROM bm)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n_cats_a AS BIGINT) AS n_cats_a,
       CAST(n_cats_b AS BIGINT) AS n_cats_b,
       CAST(CASE WHEN (CAST(n AS HUGEINT) * dd - mm) >= 0
                 THEN ((CAST(n AS HUGEINT) * dd - mm) * 1000000)
                      // (CAST(n AS HUGEINT) * n - mm)
                 ELSE -((((mm - CAST(n AS HUGEINT) * dd)) * 1000000)
                        // (CAST(n AS HUGEINT) * n - mm)) END AS BIGINT)
         AS kappa_ppm
FROM d CROSS JOIN mm CROSS JOIN na CROSS JOIN nb
"""


def _q_tv_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOTAL-VARIATION distance vs the rest of the corpus
    (operators/corpus.py:tv_distance_vs_rest) — the exact-integer
    "odd source out" divergence (KL/JSD need logs no cross-engine
    arithmetic replays; TV cross-multiplies). One (source, token)-grain
    exchange + a vocabulary-sized marginal join."""
    d = _t(spark, sf_dir, "documents")
    return CP.tv_distance_vs_rest(d, "source")


_SQL_TV_SOURCE = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents),
g AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
tt AS (SELECT t, sum(c) AS tot FROM g GROUP BY 1),
gt AS (SELECT source, sum(c) AS tg FROM g GROUP BY 1),
grand AS (SELECT sum(c) AS tn FROM g),
j AS (SELECT g.source, g.c, tt.tot, gt.tg, grand.tn
      FROM g JOIN tt USING (t)
      JOIN gt ON g.source IS NOT DISTINCT FROM gt.source
      CROSS JOIN grand),
p AS (SELECT source, tg, tn,
             sum(abs(CAST(c AS HUGEINT) * (tn - tg)
                     - CAST(tot - c AS HUGEINT) * tg)) AS s,
             sum(tot) AS ag
      FROM j GROUP BY 1, 2, 3)
SELECT source, CAST(tg AS BIGINT) AS n_tokens,
       CAST(((s + CAST(tg AS HUGEINT) * (tn - ag)) * 1000000)
            // (2 * CAST(tg AS HUGEINT) * (tn - tg)) AS BIGINT) AS tv_ppm
FROM p WHERE 2 * CAST(tg AS HUGEINT) * (tn - tg) <> 0
"""


def _q_kmv_distinct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source K-MINIMUM-VALUES distinct-token estimate
    (operators/sketch.py:kmv_distinct, k=64) — the deterministic
    bottom-k cardinality sketch whose ESTIMATE replays bit-for-bit in
    any engine with md5 (HLL registers are engine-private; KMV is just
    order statistics of a shared hash)."""
    d = _t(spark, sf_dir, "documents")
    return SK.kmv_distinct(d, ["source"], k=64)


_SQL_KMV_DISTINCT = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents),
d AS (SELECT DISTINCT source,
             ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
      FROM tok),
r AS (SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM d)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(CASE WHEN count(*) < 64 THEN CAST(count(*) AS HUGEINT)
                 ELSE (CAST(63 AS HUGEINT) * 1152921504606846976)
                      // greatest(max(CASE WHEN rn = 64 THEN h END), 1)
            END AS BIGINT) AS kmv_distinct
FROM r WHERE rn <= 64 GROUP BY 1
"""


def _q_pettitt_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type PETTITT changepoint localization (operators/quality.py:
    pettitt_changepoint) on event cents over the (ts, event_id) total
    order — WHERE the series shifted, the question the CUSUM score
    flags but does not answer. Exact integer rank sweep (doubled
    midranks make the classic U_t integral under ties); smallest-t
    tie-break pins the argmax."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        "ts",
        "event_id",
    )
    return QA.pettitt_changepoint(
        b, ["event_type"], "cents", "ts", tiebreak_cols=["event_id"]
    )


_SQL_PETTITT_CHANGE = """
WITH b AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
vc AS (SELECT event_type, cents, count(*) AS c FROM b GROUP BY 1, 2),
r2v AS (
  SELECT event_type, cents,
         2 * (sum(c) OVER (PARTITION BY event_type ORDER BY cents) - c)
           + c + 1 AS r2
  FROM vc),
rw AS (
  SELECT b.event_type, b.ts, b.event_id, r2v.r2
  FROM b JOIN r2v
    ON b.event_type IS NOT DISTINCT FROM r2v.event_type
   AND b.cents = r2v.cents),
sw AS (
  SELECT event_type,
         row_number() OVER w AS t,
         sum(r2) OVER w AS pre,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM rw
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
u AS (
  SELECT event_type, n, t,
         abs(CAST(pre AS HUGEINT) - CAST(t AS HUGEINT) * (n + 1)) AS au
  FROM sw WHERE t < n)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(au AS BIGINT) AS k_stat, CAST(t AS BIGINT) AS t_change
FROM u
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY au DESC, t ASC) = 1
"""


def _q_gini_value_by_type_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type LORENZ GINI of event value mass (operators/quality.py:
    gini_concentration_ppm) — "is this event type's value owned by a
    few rows?", the numeric-mass inequality census (distinct from the
    categorical gini_impurity). Exact rank formula in cross-multiplied
    integers; negative values raise by contract (Lorenz undefined) —
    the sweep's injected refunds are the pytest-pinned raise case, so
    this query stays off the boundary list like weighted_sample."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        "event_id",
    ).filter(F.col("cents").isNotNull())
    return QA.gini_concentration_ppm(
        b, ["event_type"], "cents", tiebreak_cols=["event_id"]
    )


_SQL_GINI_VALUE_BY_TYPE = """
WITH b AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         event_id
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, event_id) AS i
  FROM b),
a AS (
  SELECT event_type, count(*) AS n, sum(x) AS s,
         sum(CAST(i AS HUGEINT) * x) AS ix
  FROM r GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_value,
       CAST(((2 * ix - (CAST(n AS HUGEINT) + 1) * s) * 1000000)
            // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm
FROM a WHERE s > 0
"""


def _q_fano_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type FANO FACTOR of hourly event counts (operators/
    quality.py:fano_factor_ppm) — the burstiness gate: Poisson-steady
    arrivals sit at 1e6 ppm, clumped traffic far above, metronome bots
    far below. Occupied-bucket contract (documented); one
    (type, hour)-grain exchange + a keyed reduce."""
    e = _t(spark, sf_dir, "events")
    return QA.fano_factor_ppm(e, ["event_type"], "ts", bucket="hour")


_SQL_FANO_HOURLY = """
WITH g AS (
  SELECT event_type, date_trunc('hour', ts) AS bkt, count(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
a AS (
  SELECT event_type, count(*) AS m, sum(c) AS cc,
         sum(CAST(c AS HUGEINT) * c) AS sq
  FROM g GROUP BY 1)
SELECT event_type, CAST(m AS BIGINT) AS n_buckets,
       CAST(cc AS BIGINT) AS n_events,
       CAST(((CAST(m AS HUGEINT) * sq - CAST(cc AS HUGEINT) * cc)
             * 1000000) // (CAST(m AS HUGEINT) * cc) AS BIGINT)
         AS fano_ppm
FROM a
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the core diff on the sf0.001 perturbed orders pair."""
    s1, s2 = _orders_pair(spark, "/root/testdata/sf0.001")
    return diff(s1, s2, ["o_orderkey"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry of every implemented query (SURVEY.md §2 + pipeline ops).

    ORDERING IS DELIBERATE (SURVEY.md §8): the per-round driver verifies
    a window of entries from the FRONT (r2-r12 each covered exactly the
    first 50), so entries are sequenced oldest-evidence-first and
    re-derived MECHANICALLY each round from the CORRECTNESS_r01..r{N-1}
    union — each query's MOST RECENT green row sets its group, groups
    ordered never-checked/oldest-first with relative order preserved.
    Round-13 derivation: the CORRECTNESS_r01..r12 union's latest-evidence
    histogram is exactly {r07: 48, r08: 50, r09: 50, r10: 50, r12: 50}
    plus THREE never-checked entries (pettitt_change_events,
    gini_value_by_type_events, fano_hourly_events). r12 re-checked the
    r11 window unchanged, so the r11 order had left those three at
    positions 50-52, just outside the window. The r13 front is therefore
    (1) the three never-checked entries, then (2) r07 / (3) r08 /
    (4) r09 / (5) r10 / (6) r12 blocks, freshest last. The r13 window of
    50 reaches the three plus the first 47 r07 entries; the trailing r07
    entry (streaming_dedup_events) fronts the r14 window with the r08
    block. tests/test_oracle_parity.py pins that every never-checked
    name sits inside the window.
    """
    return {
        # --- never-checked (r11 additions outside the r11/r12 windows)
        "pettitt_change_events": _q_pettitt_change_events,
        "gini_value_by_type_events": _q_gini_value_by_type_events,
        "fano_hourly_events": _q_fano_hourly_events,
        # --- latest green r07 (oldest evidence)
        "copurchase_pairs_capped": _q_copurchase_pairs_capped,
        "copurchase_triples_capped": _q_copurchase_triples_capped,
        "ttr_by_source_docs": _q_ttr_by_source_docs,
        "decayed_score_users": _q_decayed_score_users,
        "er_score_parts": _q_er_score_parts,
        "multimodal_audio_decimate": _q_multimodal_audio_decimate,
        "mutual_knn_embed": _q_mutual_knn_embed,
        "prefix_jaccard_docs": _q_prefix_jaccard_docs,
        "labelprop_copurchase": _q_labelprop_copurchase,
        "session_window_events": _q_session_window_events,
        "ann_topk_quantized": _q_ann_topk_quantized,
        "decontaminate_docs": _q_decontaminate_docs,
        "pii_scrub_docs": _q_pii_scrub_docs,
        "approx_distinct_events": _q_approx_distinct_events,
        "resample_user_hourly": _q_resample_user_hourly,
        "mix_sources_docs": _q_mix_sources_docs,
        "diff_apply_roundtrip": _q_diff_apply_roundtrip,
        "dedup_survivor_corpus": _q_dedup_survivor_corpus,
        "lsh_near_dup_recall": _q_lsh_near_dup_recall,
        "minhash_cluster_docs": _q_minhash_cluster_docs,
        "multimodal_sniff_parse": _q_multimodal_sniff_parse,
        "outliers_events": _q_outliers_events,
        "tfidf_top_docs": _q_tfidf_top_docs,
        "bm25_docs": _q_bm25_docs,
        "dedup_cluster_docs": _q_dedup_cluster_docs,
        "streaming_click_attrib": _q_streaming_click_attrib,
        "streaming_enriched_segments": _q_streaming_enriched_segments,
        "repetition_docs": _q_repetition_docs,
        "q15_top_supplier": _q_q15_top_supplier,
        "q8_market_share": _q_q8_market_share,
        "moments_lineitem": _q_moments_lineitem,
        "drift_orders": _q_drift_orders,
        "fuzzy_join_part_names": _q_fuzzy_join_part_names,
        "ohlc_user_hourly": _q_ohlc_user_hourly,
        "hopping_window_events": _q_hopping_window_events,
        "event_paths_users": _q_event_paths_users,
        "retention_cohorts_events": _q_retention_cohorts_events,
        "rfm_segments_events": _q_rfm_segments_events,
        "hll_rollup_events": _q_hll_rollup_events,
        "variant_events_props": _q_variant_events_props,
        "cap_per_source_docs": _q_cap_per_source_docs,
        "token_rarity_docs": _q_token_rarity_docs,
        "change_intervals_events": _q_change_intervals_events,
        "profile_orders": _q_profile_orders,
        "ann_pq_recall": _q_ann_pq_recall,
        "merge_upsert_orders": _q_merge_upsert_orders,
        "weighted_sample_docs": _q_weighted_sample_docs,
        "streaming_dedup_events": _q_streaming_dedup_events,
        # --- latest green r08
        "streaming_sliding_windows": _q_streaming_sliding_windows,
        "attribution_user_clicks": _q_attribution_user_clicks,
        "common_neighbors_copurchase": _q_common_neighbors_copurchase,
        "mutual_knn_ivf_embed": _q_mutual_knn_ivf_embed,
        "mutual_knn_ivf_recall": _q_mutual_knn_ivf_recall,
        "ra_link_pred_copurchase": _q_ra_link_pred_copurchase,
        "markov_transitions_events": _q_markov_transitions_events,
        "assoc_rules_copurchase": _q_assoc_rules_copurchase,
        "streaming_transitions": _q_streaming_transitions,
        "edge_jaccard_copurchase": _q_edge_jaccard_copurchase,
        "hits_parts_customers": _q_hits_parts_customers,
        "skipgram_pmi_docs": _q_skipgram_pmi_docs,
        "phrase_search_docs": _q_phrase_search_docs,
        "seasonality_lift_events": _q_seasonality_lift_events,
        "quantile_rank_events": _q_quantile_rank_events,
        "vocab_growth_docs": _q_vocab_growth_docs,
        "ks_drift_events": _q_ks_drift_events,
        "streaming_seasonality_events": _q_streaming_seasonality_events,
        "session_error_overlap_events": _q_session_error_overlap,
        "q7_volume_shipping": _q_q7_volume_shipping,
        "copurchase_pairs_lineitem": _q_copurchase_pairs,
        "conversion_latency_events": _q_conversion_latency_events,
        "order_backlog_weekly": _q_order_backlog_weekly,
        "dq_rules_orders": _q_dq_rules_orders,
        "user_trend_features": _q_user_trend_features,
        "dq_rules_by_source_docs": _q_dq_rules_by_source_docs,
        "ann_topk_arrow": _q_ann_topk_arrow,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "minhash_native_docs": _q_minhash_native_docs,
        "minhash_lsh_docs": _q_minhash_lsh_docs,
        "simhash_docs": _q_simhash_docs,
        "two_stage_agg_events": _q_two_stage_agg_events,
        "pack_sequences_docs": _q_pack_sequences_docs,
        "embed_centroid_lang": _q_embed_centroid_lang,
        "incremental_rollup_events": _q_incremental_rollup_events,
        "streaming_incremental_rollup": _q_streaming_incremental_rollup,
        "digest_tree_orders": _q_digest_tree_orders,
        "embed_dim_stats": _q_embed_dim_stats,
        "pmi_event_pairs": _q_pmi_event_pairs,
        "ffill_user_purchase": _q_ffill_user_purchase,
        "latest_event_per_user": _q_latest_event_per_user,
        "triangle_counts_docs": _q_triangle_counts_docs,
        "cluster_size_hist_docs": _q_cluster_size_hist_docs,
        "bloom_semi_join_lineitem": _q_bloom_semi_join_lineitem,
        "bigram_counts_docs": _q_bigram_counts_docs,
        "hist_event_value": _q_hist_event_value,
        "hist_quantiles_event_value": _q_hist_quantiles_event_value,
        "len_hist_by_source_docs": _q_len_hist_by_source_docs,
        "hard_negatives_embed": _q_hard_negatives_embed,
        "dedup_rate_by_source_docs": _q_dedup_rate_by_source_docs,
        # --- latest green r09
        "hist_rollup_events": _q_hist_rollup_events,
        "oov_by_source_docs": _q_oov_by_source_docs,
        "streaming_hist_rollup": _q_streaming_hist_rollup,
        "split_leakage_docs": _q_split_leakage_docs,
        "distinctive_terms_by_source": _q_distinctive_terms_by_source,
        "budget_fill_docs": _q_budget_fill_docs,
        "pctile_by_type_events": _q_pctile_by_type_events,
        "reconcile_orders_lineitem": _q_reconcile_orders_lineitem,
        "asof_forward_click_purchase": _q_asof_forward_click_purchase,
        "dedup_survivor_longest": _q_dedup_survivor_longest,
        "session_stats_events": _q_session_stats_events,
        "wow_change_events": _q_wow_change_events,
        "degree_hist_docs": _q_degree_hist_docs,
        "shingle_overlap_sources": _q_shingle_overlap_sources,
        "fingerprint_rolling_docs": _q_fingerprint_rolling_docs,
        "lang_id_docs": _q_lang_id_docs,
        "ann_topk_cosine": _q_ann_topk,
        "text_quality_docs": _q_text_quality_docs,
        "sample_split_docs": _q_sample_split_docs,
        "winnow_fp_docs": _q_winnow_fp_docs,
        "winnow_pairs_docs": _q_winnow_pairs_docs,
        "cluster_purity_docs": _q_cluster_purity_docs,
        "mad_outliers_events": _q_mad_outliers_events,
        "interarrival_users": _q_interarrival_users,
        "doc_keywords_docs": _q_doc_keywords_docs,
        "join_skew_lineitem_partsupp": _q_join_skew_lineitem_partsupp,
        "label_coherence_embed": _q_label_coherence_embed,
        "streaming_cusum_events": _q_streaming_cusum_events,
        "funnel_windowed_events": _q_funnel_windowed_events,
        "seasonal_residuals_events": _q_seasonal_residuals_events,
        "top_share_users_events": _q_top_share_users_events,
        "clustering_coeff_docs": _q_clustering_coeff_docs,
        "pagerank_copurchase": _q_pagerank_copurchase,
        "heavy_hitters_docs": _q_heavy_hitters_docs,
        "diverse_sample_embed": _q_diverse_sample_embed,
        "winsorize_events": _q_winsorize_events,
        "scoped_diff_orders": _q_scoped_diff_orders,
        "heavy_hitters_by_source_docs": _q_heavy_hitters_by_source_docs,
        "streaming_heavy_hitters": _q_streaming_heavy_hitters,
        "cumulative_users_daily": _q_cumulative_users_daily,
        "cc_star_docs": _q_cc_star_docs,
        "srp_near_dup_embed": _q_srp_near_dup_embed,
        "hard_negatives_ivf_recall": _q_hard_negatives_ivf_recall,
        "srp_dedup_embed": _q_srp_dedup_embed,
        "len_pctile_by_source_docs": _q_len_pctile_by_source_docs,
        "stratified_sample_docs": _q_stratified_sample_docs,
        "embed_cosine_near_dup": _q_embed_cosine_near_dup,
        "minhash_portable_docs": _q_minhash_portable_docs,
        "simhash_portable_docs": _q_simhash_portable_docs,
        "multimodal_payload_stats": _q_multimodal_payload_stats,
        # --- latest green r10
        "multimodal_frames": _q_multimodal_frames,
        "text_stats_docs": _q_text_stats_docs,
        "pipeline_training_corpus": _q_pipeline_training_corpus,
        "ngram_jaccard_docs": _q_ngram_jaccard_docs,
        "streaming_events_hourly": _q_streaming_events_hourly,
        "streaming_sessions": _q_streaming_sessions,
        "diff_orders_detail": _q_diff_orders_detail,
        "diff_orders_flags": _q_diff_orders_flags,
        "diff_orders_col_counts": _q_diff_orders_col_counts,
        "diff_drilldown_status": _q_diff_drilldown_status,
        "diff_lineitem_flags": _q_diff_lineitem_flags,
        "q1_pricing_summary": _q_q1_pricing_summary,
        "q3_shipping_priority": _q_q3_shipping_priority,
        "join_semi_customers": _q_join_semi,
        "join_anti_customers": _q_join_anti,
        "topk_orders_per_customer": _q_topk_orders_per_customer,
        "agg_orders_by_segment": _q_agg_orders_by_segment,
        "rollup_customers_by_region": _q_rollup_customers,
        "setop_building_except_frequent": _q_setop_except,
        "setop_automobile_with_orders": _q_setop_intersect,
        "events_hourly": _q_events_hourly,
        "agg_event_stats": _q_agg_event_stats,
        "quantiles_event_value": _q_quantiles_event_value,
        "window_user_lag": _q_window_user_lag,
        "asof_click_view": _q_asof_click_view,
        "window_user_running": _q_window_user_running,
        "window_user_range_frame": _q_window_user_range_frame,
        "range_join_click_error": _q_range_join_click_error,
        "string_funcs_customer": _q_string_funcs,
        "digest_orders": _q_digest_orders,
        "zorder_key_events": _q_zorder_key_events,
        "date_funcs_events": _q_date_funcs_events,
        "ann_ivf_auto_topk": _q_ann_ivf_auto_topk,
        "pivot_orders_status_priority": _q_pivot_orders_status_priority,
        "spearman_trend_events": _q_spearman_trend_events,
        "hapax_by_source_docs": _q_hapax_by_source_docs,
        "golden_record_docs": _q_golden_record_docs,
        "block_volume_winnow_docs": _q_block_volume_winnow_docs,
        "weighted_sample_aes_docs": _q_weighted_sample_aes_docs,
        "collapse_repeats_events": _q_collapse_repeats_events,
        "q18_large_volume_customers": _q_q18_large_volume_customers,
        "q22_idle_balance_customers": _q_q22_idle_balance_customers,
        "chi2_source_lang_docs": _q_chi2_source_lang_docs,
        "simpson_diversity_docs": _q_simpson_diversity_docs,
        "q2_min_cost_supplier": _q_q2_min_cost_supplier,
        "q11_important_stock": _q_q11_important_stock,
        "q16_supplier_cnt": _q_q16_supplier_cnt,
        "q20_potential_promotion": _q_q20_potential_promotion,
        "diff_orders_skewed": _q_diff_orders_skewed,
        "kmeans_cells_embed": _q_kmeans_cells_embed,
        # --- latest green r12 (freshest last)
        "ngram_containment_docs": _q_ngram_containment_docs,
        "kmeans_cosine_pairs_embed": _q_kmeans_cosine_pairs_embed,
        "multimodal_audio_features": _q_multimodal_audio_features,
        "max_concurrency_events": _q_max_concurrency_events,
        "benford_orders": _q_benford_orders,
        "ppr_copurchase": _q_ppr_copurchase,
        "gini_event_mix_users": _q_gini_event_mix_users,
        "twap_user_hourly": _q_twap_user_hourly,
        "kcore_copurchase": _q_kcore_copurchase,
        "scd2_enrich_orders": _q_scd2_enrich_orders,
        "knn_eval_embed": _q_knn_eval_embed,
        "cusum_hourly_events": _q_cusum_hourly_events,
        "sorted_neighborhood_parts": _q_sorted_neighborhood_parts,
        "khop_copurchase": _q_khop_copurchase,
        "wpagerank_copurchase": _q_wpagerank_copurchase,
        "array_funcs_lineitem": _q_array_funcs_lineitem,
        "q9_profit_by_nation": _q_q9_profit_by_nation,
        "q18_large_orders": _q_q18_large_orders,
        "q17_small_quantity": _q_q17_small_quantity,
        "q13_custdist": _q_q13_custdist,
        "q5_local_supplier": _q_q5_local_supplier,
        "q4_order_priority": _q_q4_order_priority,
        "q12_late_lines_by_status": _q_q12_late_lines_by_status,
        "q19_disjunctive_revenue": _q_q19_disjunctive_revenue,
        "q6_forecast_revenue": _q_q6_forecast_revenue,
        "q10_returned_items": _q_q10_returned_items,
        "q14_promo_effect": _q_q14_promo_effect,
        "q21_waiting_supplier": _q_q21_waiting_supplier,
        "q22_idle_balances": _q_q22_idle_balances,
        "pivot_orders_status": _q_pivot_orders_status,
        "map_user_profile": _q_map_user_profile,
        "window_rank_funcs": _q_window_rank_funcs,
        "unpivot_lineitem": _q_unpivot_lineitem,
        "groupingsets_events": _q_groupingsets_events,
        "json_events_props": _q_json_events_props,
        "cube_orders_status_priority": _q_cube_orders,
        "dedup_exact_docs": _q_dedup_exact_docs,
        "dedup_fingerprint_docs": _q_dedup_fingerprint_docs,
        "dedup_incremental_docs": _q_dedup_incremental_docs,
        "chunk_docs": _q_chunk_docs,
        "vocab_topk_docs": _q_vocab_topk_docs,
        "salted_join_events": _q_salted_join_events,
        "funnel_events": _q_funnel_events,
        "span_dedup_docs": _q_span_dedup_docs,
        "ann_ivf_auto_recall": _q_ann_ivf_auto_recall,
        "mwu_click_view_events": _q_mwu_click_view_events,
        "acf_value_events": _q_acf_value_events,
        "kappa_langid_docs": _q_kappa_langid_docs,
        "tv_source_docs": _q_tv_source_docs,
        "kmv_distinct_docs": _q_kmv_distinct_docs,
    }


def _sql_stop_hits(words: list[str]) -> str:
    """DuckDB rendering of TX.stopword_hits — identical space-padded
    LIKE construction, kept in lockstep with the Spark side."""
    return (
        "("
        + "\n      + ".join(
            f"CASE WHEN ' ' || lower(text) || ' ' LIKE '% {w} %' THEN 1 ELSE 0 END"
            for w in words
        )
        + ")"
    )


def _sql_lang_parts() -> tuple[str, str, list[str]]:
    """(score-select list, detect CASE over s_* columns, sorted langs) —
    generated from TX.LANG_PROFILES so the two engines score from one
    profile table. Shared by lang_id_docs and the pipeline oracle."""
    from pyspark_datacol_diff_spark.operators import text as TXm

    score_cols = {
        lang: _sql_stop_hits(words) for lang, words in TXm.LANG_PROFILES.items()
    }
    score_cols["zh"] = (
        "CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') "
        "THEN 99 ELSE 0 END"
    )
    langs = sorted(score_cols)
    sels = ",\n       ".join(f"{score_cols[l]} AS s_{l}" for l in langs)
    mx = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = (
        f"CASE WHEN {mx} <= 0 THEN 'und'\n"
        + "\n".join(f"            WHEN s_{l} = {mx} THEN '{l}'" for l in langs)
        + "\n            ELSE 'und' END"
    )
    return sels, case, langs


def _sql_lang_id_docs() -> str:
    sels, case, langs = _sql_lang_parts()
    return (
        f"WITH s AS (\n  SELECT doc_id,\n       {sels}\n  FROM documents)\n"
        f"SELECT doc_id, "
        + ", ".join(f"s_{l}" for l in langs)
        + f",\n       {case} AS detected\nFROM s"
    )


def _sql_quality_decile_expr() -> str:
    """DuckDB rendering of round(TX.quality_score(text)*10) as BIGINT."""
    en_hits = _sql_stop_hits(
        __import__(
            "pyspark_datacol_diff_spark.operators.text", fromlist=["EN_STOPWORDS"]
        ).EN_STOPWORDS
    )
    toks = "len(regexp_split_to_array(trim(text), '\\s+'))"
    return f"""CAST(round(
         (CASE WHEN length(text) >= 50 AND length(text) <= 10000 THEN 0.4 ELSE 0.0 END
        + CASE WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) > 0 THEN 0.2 ELSE 0.0 END
        + CASE WHEN {en_hits} >= 2 THEN 0.2 ELSE 0.0 END
        + CASE WHEN {toks} > 0
               AND length(text) * 1.0 / {toks} >= 3
               AND length(text) * 1.0 / {toks} <= 12 THEN 0.2 ELSE 0.0 END
         ) * 10) AS BIGINT)"""


def _sql_text_quality_docs() -> str:
    return f"""
SELECT doc_id,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_ish,
       {_sql_quality_decile_expr()} AS quality_decile
FROM documents
"""


_SQL_BUCKET = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000"
)
_SQL_SPLIT_CASE = (
    "CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val' "
    "ELSE 'test' END"
)
_SQL_NTOK = "len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))"


def _sql_minhash_portable_docs() -> str:
    """Replay the full MinHash pipeline in DuckDB: 3-gram shingles ->
    md5-derived 32-bit gram hash -> the SAME seeded (a_i, b_i) universal
    hashes (imported from the operator, not copied) -> per-doc mins."""
    from pyspark_datacol_diff_spark.operators.dedup import (
        _MH_PRIME,
        minhash_coefficients,
    )

    coeffs = minhash_coefficients(_MH_PORTABLE_K)
    mins = ",\n       ".join(
        f"min(({a} * h32 + {b}) % {_MH_PRIME}) AS mh{i:02d}"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h32 FROM grams)
SELECT doc_id,
       {mins}
FROM h GROUP BY doc_id
"""


def _sql_simhash_portable_docs() -> str:
    """Replay 32-bit md5 SimHash in DuckDB: same shingles, same gram
    hash, per-bit majority vote, identical bit packing."""
    bits = 32
    sums = ",\n       ".join(
        f"sum((h32 >> {i}) & 1) AS b{i}" for i in range(bits)
    )
    pack = "\n     + ".join(
        f"CASE WHEN 2 * b{i} >= m THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h32 FROM grams),
votes AS (
  SELECT doc_id, count(*) AS m,
       {sums}
  FROM h GROUP BY doc_id)
SELECT doc_id,
       CAST({pack} AS BIGINT) AS fp
FROM votes
"""


def _sql_minhash_pairs_docs() -> str:
    """Replay the FULL MinHash banding pipeline in DuckDB: md5 gram
    hashes -> 64 seeded universal-hash mins -> 32 two-row band keys
    (md5 of the comma-joined slice, byte-identical to the Spark band
    key so even key collisions coincide) -> candidate self-join ->
    signature-agreement filter (est >= 0.3 <=> n_agree/64 >= 0.3)."""
    from pyspark_datacol_diff_spark.operators.dedup import (
        _MH_PRIME,
        minhash_coefficients,
    )

    k, bands = 64, 32
    rpb = k // bands
    coeffs = minhash_coefficients(k)
    mins = ",\n       ".join(
        f"min(({a} * h32 + {b}) % {_MH_PRIME}) AS mh{i:02d}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {j} AS band, md5({key}) AS bkey FROM sigs".format(
            j=j,
            key=" || ',' || ".join(
                f"mh{j * rpb + r:02d}::VARCHAR" for r in range(rpb)
            ),
        )
        for j in range(bands)
    )
    agree = "\n     + ".join(
        f"CASE WHEN sa.mh{i:02d} = sb.mh{i:02d} THEN 1 ELSE 0 END"
        for i in range(k)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h32 FROM grams),
sigs AS (
  SELECT doc_id,
       {mins}
  FROM h GROUP BY doc_id),
bands AS (
  {band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
agree AS (
  SELECT c.id_a, c.id_b,
       CAST({agree} AS BIGINT) AS n_agree
  FROM cands c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, n_agree FROM agree WHERE n_agree / 64.0 >= 0.3
"""


def _sql_minhash_cc_docs() -> str:
    """Scale-path dedup clustering oracle: the full MinHash banding
    replay (_sql_minhash_pairs_docs) extended with the recursive
    connected-components CTE — DuckDB re-derives the same clusters from
    the same signatures."""
    base = _sql_minhash_pairs_docs()
    final = "SELECT id_a, id_b, n_agree FROM agree WHERE n_agree / 64.0 >= 0.3"
    prefix = base.split(final)[0].replace("WITH toks", "WITH RECURSIVE toks", 1)
    return (
        prefix
        + """,
pairs AS (SELECT id_a, id_b FROM agree WHERE n_agree / 64.0 >= 0.3),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges) n
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node)
SELECT node AS doc_id, min(lbl) AS comp FROM reach GROUP BY node
"""
    )


def _sql_simhash_pairs_docs() -> str:
    """Replay SimHash near-dup in DuckDB: the 32-bit md5 fingerprints
    (same per-bit majority vote as _sql_simhash_portable_docs), four
    8-bit pigeonhole bands as decimal-string keys, candidate self-join,
    exact Hamming verify via bit_count(xor)."""
    bits, band_bits, max_hamming = 32, 8, 8
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    sums = ",\n       ".join(
        f"sum((h32 >> {i}) & 1) AS b{i}" for i in range(bits)
    )
    pack = "\n     + ".join(
        f"CASE WHEN 2 * b{i} >= m THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, fp, '{i}' || ':' || (((fp >> {i * band_bits}) & {mask}))::VARCHAR AS band FROM fps"
        for i in range(nbands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h32 FROM grams),
votes AS (
  SELECT doc_id, count(*) AS m,
       {sums}
  FROM h GROUP BY doc_id),
fps AS (
  SELECT doc_id, CAST({pack} AS BIGINT) AS fp FROM votes),
bands AS (
  {band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cands WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
"""


def _sql_sample_split_docs() -> str:
    return f"""
WITH b AS (SELECT *, {_SQL_BUCKET} AS bk FROM documents)
SELECT {_SQL_SPLIT_CASE} AS split,
       count(*) AS n_docs,
       CAST(sum({_SQL_NTOK}) AS BIGINT) AS n_tokens
FROM b GROUP BY 1
"""


def _sql_split_leakage_docs() -> str:
    return f"""
WITH s AS (
  SELECT md5(array_to_string(list_slice(regexp_split_to_array(text, '\\s+'), 1, 2), ' ')) AS fp,
         {_SQL_SPLIT_CASE} AS split
  FROM (SELECT *, {_SQL_BUCKET} AS bk FROM documents)),
c AS (
  SELECT split, count(DISTINCT split) OVER (PARTITION BY fp) AS ns FROM s)
SELECT split, count(*) AS n_docs,
       CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs
FROM c GROUP BY split
"""


def _sql_stratified_sample_docs() -> str:
    keep = " OR ".join(
        f"(lang = '{s}' AND bk < {int(round(f * 10000))})"
        for s, f in _STRATA.items()
    )
    return f"""
WITH b AS (SELECT *, {_SQL_BUCKET} AS bk FROM documents)
SELECT lang, count(*) AS n_docs
FROM b WHERE {keep} GROUP BY lang
"""


def _sql_pipeline_training_corpus() -> str:
    sels, case, _ = _sql_lang_parts()
    return f"""
WITH scored AS (
  SELECT doc_id, text, {_sql_quality_decile_expr()} AS qd,
       {sels}
  FROM documents),
filt AS (
  SELECT doc_id, text FROM scored
  WHERE qd >= 6 AND ({case}) = 'en'),
fp AS (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM filt),
rep AS (
  SELECT doc_id, text
  FROM (SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fp) AS rep_id
        FROM fp)
  WHERE doc_id = rep_id),
b AS (SELECT *, {_SQL_BUCKET} AS bk FROM rep)
SELECT {_SQL_SPLIT_CASE} AS split,
       count(*) AS n_docs,
       CAST(sum({_SQL_NTOK}) AS BIGINT) AS n_tokens
FROM b GROUP BY 1
"""


def oracle_sql() -> dict[str, str]:
    return {
        "winnow_fp_docs": _SQL_WINNOW_FP_DOCS,
        "winnow_pairs_docs": _SQL_WINNOW_PAIRS_DOCS,
        "cluster_purity_docs": _SQL_CLUSTER_PURITY_DOCS,
        "mad_outliers_events": _SQL_MAD_OUTLIERS_EVENTS,
        "interarrival_users": _SQL_INTERARRIVAL_USERS,
        "doc_keywords_docs": _SQL_DOC_KEYWORDS_DOCS,
        "join_skew_lineitem_partsupp": _SQL_JOIN_SKEW_LINEITEM_PARTSUPP,
        "label_coherence_embed": _SQL_LABEL_COHERENCE_EMBED,
        "streaming_cusum_events": _SQL_STREAMING_CUSUM_EVENTS,
        "funnel_windowed_events": _SQL_FUNNEL_WINDOWED_EVENTS,
        "seasonal_residuals_events": _SQL_SEASONAL_RESIDUALS_EVENTS,
        "top_share_users_events": _SQL_TOP_SHARE_USERS_EVENTS,
        "clustering_coeff_docs": _SQL_CLUSTERING_COEFF_DOCS,
        "q2_min_cost_supplier": _SQL_Q2_MIN_COST_SUPPLIER,
        "q11_important_stock": _SQL_Q11_IMPORTANT_STOCK,
        "q16_supplier_cnt": _SQL_Q16_SUPPLIER_CNT,
        "q20_potential_promotion": _SQL_Q20_POTENTIAL_PROMOTION,
        "diff_orders_skewed": _SQL_DIFF_ORDERS_SKEWED,
        "kmeans_cells_embed": _SQL_KMEANS_CELLS_EMBED,
        "kmeans_cosine_pairs_embed": _SQL_KMEANS_COSINE_PAIRS_EMBED,
        "ngram_containment_docs": "WITH " + _SQL_NGRAM_PAIRS_BODY.replace(
            # reuse the shared gram/pair pipeline but swap the final
            # resemblance cut for the integer containment cut
            "WHERE inter_cnt * 1.0 / (sa.sz + sb.sz - inter_cnt) >= 0.1",
            "WHERE 1=1",
        ) + """
SELECT id_a, id_b, inter_cnt, sa.sz AS size_a, sb.sz AS size_b
FROM rawpairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter_cnt * 5 >= 1 * least(sa.sz, sb.sz)
""",
        "pagerank_copurchase": _SQL_PAGERANK_COPURCHASE,
        "heavy_hitters_docs": _SQL_HEAVY_HITTERS_DOCS,
        "diverse_sample_embed": _SQL_DIVERSE_SAMPLE_EMBED,
        "winsorize_events": _SQL_WINSORIZE_EVENTS,
        # scoped_diff must be INVISIBLE in the answer: the oracle is
        # the full (unscoped) diff — same convention as the Bloom prune
        "scoped_diff_orders": _ORDERS_PAIR_SQL
        + """,
m AS (SELECT * FROM j WHERE k1 IS NOT NULL AND k2 IS NOT NULL)
SELECT o_orderkey, col_name, s1_value, s2_value FROM (
  SELECT k1 AS o_orderkey, 'o_custkey' AS col_name,
         CAST(c1 AS VARCHAR) AS s1_value, CAST(c2 AS VARCHAR) AS s2_value
  FROM m WHERE c1 IS DISTINCT FROM c2
  UNION ALL
  SELECT k1, 'o_orderstatus', st1, st2 FROM m WHERE coalesce(st1,'') <> coalesce(st2,'')
  UNION ALL
  SELECT k1, 'o_orderpriority', pr1, pr2 FROM m WHERE coalesce(pr1,'') <> coalesce(pr2,'')
) t
""",
        "diff_orders_detail": _ORDERS_PAIR_SQL
        + """,
m AS (SELECT * FROM j WHERE k1 IS NOT NULL AND k2 IS NOT NULL)
SELECT o_orderkey, col_name, s1_value, s2_value FROM (
  SELECT k1 AS o_orderkey, 'o_custkey' AS col_name,
         CAST(c1 AS VARCHAR) AS s1_value, CAST(c2 AS VARCHAR) AS s2_value
  FROM m WHERE c1 IS DISTINCT FROM c2
  UNION ALL
  SELECT k1, 'o_orderstatus', st1, st2 FROM m WHERE coalesce(st1,'') <> coalesce(st2,'')
  UNION ALL
  SELECT k1, 'o_orderpriority', pr1, pr2 FROM m WHERE coalesce(pr1,'') <> coalesce(pr2,'')
) t
""",
        "heavy_hitters_by_source_docs": _SQL_HEAVY_HITTERS_BY_SOURCE,
        # streaming maintenance and the sketch are both invisible in
        # the answer: same oracle as the batch heavy hitters
        "streaming_heavy_hitters": _SQL_HEAVY_HITTERS_DOCS,
        "cumulative_users_daily": _SQL_CUMULATIVE_USERS_DAILY,
        "diff_orders_flags": _ORDERS_PAIR_SQL
        + f"""
SELECT {_ORDERS_FLAG_SQL} AS "Flag", count(*) AS cnt FROM j GROUP BY 1
""",
        "diff_orders_col_counts": _ORDERS_PAIR_SQL
        + """,
m AS (SELECT * FROM j WHERE k1 IS NOT NULL AND k2 IS NOT NULL)
SELECT "ColName", "Count" FROM (
  SELECT 'o_custkey' AS "ColName", count(*) AS "Count" FROM m WHERE c1 IS DISTINCT FROM c2
  UNION ALL
  SELECT 'o_orderstatus', count(*) FROM m WHERE coalesce(st1,'') <> coalesce(st2,'')
  UNION ALL
  SELECT 'o_orderpriority', count(*) FROM m WHERE coalesce(pr1,'') <> coalesce(pr2,'')
  UNION ALL
  SELECT 'o_totalprice', count(*) FROM m WHERE tp1 IS DISTINCT FROM tp2
  UNION ALL
  SELECT 'o_orderdate', count(*) FROM m WHERE od1 IS DISTINCT FROM od2
) t WHERE "Count" > 0
""",
        "diff_drilldown_status": _ORDERS_PAIR_SQL
        + """
SELECT k1 AS o_orderkey, st1 AS s1_value, st2 AS s2_value
FROM j
WHERE k1 IS NOT NULL AND k2 IS NOT NULL
  AND coalesce(st1,'') <> coalesce(st2,'')
""",
        "diff_lineitem_flags": _LINEITEM_PAIR_SQL
        + f"""
SELECT CASE WHEN k2a IS NULL THEN 'S1_ONLY'
            WHEN k1a IS NULL THEN 'S2_ONLY'
            WHEN {_LINEITEM_DIFF_PRED} THEN ''
            ELSE 'NODIFF' END AS "Flag", count(*) AS cnt
FROM j GROUP BY 1
""",
        "q1_pricing_summary": _Q1_SQL,
        "q3_shipping_priority": _Q3_SQL,
        "join_semi_customers": """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
        "join_anti_customers": """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
        "topk_orders_per_customer": """
SELECT o_custkey, o_orderkey, rn, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
""",
        "agg_orders_by_segment": """
SELECT c_mktsegment, count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
        "rollup_customers_by_region": _ROLLUP_SQL,
        "setop_building_except_frequent": _EXCEPT_SQL,
        "setop_automobile_with_orders": _INTERSECT_SQL,
        "events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS value_e4,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""",
        "string_funcs_customer": """
SELECT c_custkey, upper(c_name) AS name_upper, length(c_name) AS name_len,
       regexp_replace(c_name, 'Customer', 'Cust', 'g') AS short_name,
       substring(c_name, 10, 8) AS name_tail,
       concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nat
FROM customer WHERE c_custkey % 3 = 0
""",
        "zorder_key_events": _sql_zorder_key_events(),
        "digest_orders": """
WITH src AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
         CAST(o_custkey AS VARCHAR) AS o_custkey,
         o_orderstatus, o_orderpriority,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date_str,
         CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS o_cents
  FROM orders),
long AS (
  SELECT 'o_orderkey' AS col_name, o_orderkey AS v FROM src
  UNION ALL SELECT 'o_custkey', o_custkey FROM src
  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM src
  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM src
  UNION ALL SELECT 'o_date_str', o_date_str FROM src
  UNION ALL SELECT 'o_cents', o_cents FROM src)
SELECT col_name, count(v) AS n_values,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(sum(('0x' || substr(md5(v), 1, 15))::BIGINT)
            % 1000000000000000000 AS BIGINT) AS digest
FROM long GROUP BY col_name
""",
        "date_funcs_events": """
SELECT event_id,
       CAST(year(ts) AS INTEGER) AS y,
       CAST(quarter(ts) AS INTEGER) AS q,
       CAST(month(ts) AS INTEGER) AS m,
       CAST(day(ts) AS INTEGER) AS dom,
       CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS h,
       CAST(minute(ts) AS INTEGER) AS mi,
       date_trunc('week', ts) AS week_start,
       CAST(date_diff('day', DATE '1996-01-01', CAST(ts AS DATE)) AS INTEGER)
         AS days_since,
       CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS month_end
FROM events WHERE event_id % 5 = 0
""",
        "array_funcs_lineitem": """
WITH base AS (
  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty,
         range(1, CAST(l_quantity AS INTEGER) + 1) AS r
  FROM lineitem WHERE l_orderkey % 7 = 0)
SELECT l_orderkey, l_linenumber, qty,
       CAST(len(list_filter(r, x -> x % 2 = 0)) AS INTEGER) AS n_even,
       CAST(list_sum(list_transform(r, x -> x * x)) AS BIGINT) AS sum_sq,
       CAST(coalesce(list_position(r, 5), 0) AS BIGINT) AS pos_of_5,
       list_contains(r, 7) AS has_7,
       CAST(list_reverse(r)[1] AS INTEGER) AS last_rev
FROM base
""",
        "q18_large_orders": """
WITH big AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_e2
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, big.sum_qty_e2
FROM orders o JOIN big USING (o_orderkey)
JOIN customer c ON o.o_custkey = c.c_custkey
""",
        "q17_small_quantity": """
WITH li AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice
  FROM lineitem),
per_part AS (
  SELECT l_partkey, sum(qty) AS sum_qty, count(*) AS cnt_qty
  FROM li GROUP BY l_partkey)
SELECT p_brand,
       count(*) AS n_small,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM li
JOIN per_part USING (l_partkey)
JOIN part ON l_partkey = p_partkey
WHERE 5 * qty * cnt_qty < sum_qty
GROUP BY p_brand
""",
        "q13_custdist": """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders
  FROM orders WHERE o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY o_custkey)
SELECT c_count, count(*) AS custdist
FROM (
  SELECT coalesce(n_orders, 0) AS c_count
  FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey)
GROUP BY c_count
""",
        "q5_local_supplier": """
SELECT n_name AS nation,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(5,4)))) * 10000 AS BIGINT)
         AS revenue_e4,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY n_name
""",
        "q4_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
        "q12_late_lines_by_status": """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY l_linestatus
""",
        "q19_disjunctive_revenue": """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(5,4)))) * 10000 AS BIGINT)
         AS revenue_e4,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
""",
        "q6_forecast_revenue": _SQL_Q6_FORECAST_REVENUE,
        "q10_returned_items": _SQL_Q10_RETURNED_ITEMS,
        "q14_promo_effect": _SQL_Q14_PROMO_EFFECT,
        "q21_waiting_supplier": """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate)
SELECT s_name, count(*) AS numwait
FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
""",
        "window_user_range_frame": """
SELECT event_id, user_id,
       count(*) OVER w AS n_last_hour,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w * 100 AS BIGINT)
         AS cents_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
        "q22_idle_balances": """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer),
pos AS (
  SELECT sum(bal_cents) AS sum_cents, count(*) AS n_pos
  FROM c WHERE bal_cents > 0)
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
FROM c, pos
WHERE bal_cents * n_pos > sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
""",
        "map_user_profile": """
WITH per_type AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       count(*) AS n_types,
       CAST(coalesce(sum(c) FILTER (WHERE event_type = 'click'), 0) AS BIGINT)
         AS n_click,
       CAST(coalesce(sum(c) FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT)
         AS n_purchase
FROM per_type GROUP BY user_id
""",
        "window_rank_funcs": """
WITH j AS (
  SELECT o_orderkey, c_mktsegment,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders JOIN customer ON o_custkey = c_custkey),
w AS (
  SELECT o_orderkey, c_mktsegment, price_cents,
         rank() OVER win AS rnk,
         dense_rank() OVER win AS drnk,
         CAST(round(cume_dist() OVER win
                    * count(*) OVER (PARTITION BY c_mktsegment)) AS BIGINT)
           AS n_at_or_below,
         CAST(round(percent_rank() OVER win
                    * (count(*) OVER (PARTITION BY c_mktsegment) - 1)) AS BIGINT)
           AS rnk0
  FROM j
  WINDOW win AS (PARTITION BY c_mktsegment ORDER BY price_cents))
SELECT * FROM w WHERE o_orderkey % 53 = 0
""",
        "pivot_orders_status": """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F_n",
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'F') * 100 AS BIGINT) AS "F_cents",
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O_n",
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O') * 100 AS BIGINT) AS "O_cents",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P_n",
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'P') * 100 AS BIGINT) AS "P_cents"
FROM orders GROUP BY o_orderpriority
""",
        "unpivot_lineitem": """
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(round(l_discount * 10000) AS BIGINT) AS discount_bp,
         CAST(round(l_tax * 10000) AS BIGINT) AS tax_bp
  FROM lineitem),
u AS (
  SELECT 'qty' AS metric, qty AS val FROM li
  UNION ALL SELECT 'price_cents', price_cents FROM li
  UNION ALL SELECT 'discount_bp', discount_bp FROM li
  UNION ALL SELECT 'tax_bp', tax_bp FROM li)
SELECT metric, count(*) AS n, CAST(sum(val) AS BIGINT) AS total
FROM u GROUP BY metric
""",
        "groupingsets_events": """
SELECT day, event_type, GROUPING(day, event_type) AS gid,
       count(*) AS n_events, CAST(sum(v_e4) AS BIGINT) AS value_e4
FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             CAST(round(value * 10000) AS BIGINT) AS v_e4
      FROM events)
GROUP BY GROUPING SETS ((day, event_type), (day), (event_type), ())
""",
        "q9_profit_by_nation": """
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))))
            * 10000 AS BIGINT) AS profit_e4,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN part     ON l_partkey = p_partkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1, 2
""",
        "json_events_props": """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k_map,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
""",
        "cube_orders_status_priority": """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
        "dedup_exact_docs": """
SELECT md5(text) AS content_md5, min(doc_id) AS rep_id, count(*) AS cnt
FROM documents GROUP BY md5(text)
""",
        "dedup_fingerprint_docs": """
SELECT md5(array_to_string(list_slice(regexp_split_to_array(text, '\\s+'), 1, 2), ' ')) AS fp,
       min(doc_id) AS rep_id, count(*) AS cnt
FROM documents
GROUP BY 1 HAVING count(*) > 1
""",
        "dedup_incremental_docs": """
WITH inc AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1),
first_in_batch AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM inc) WHERE rn = 1),
store AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0)
SELECT f.doc_id, f.fp
FROM first_in_batch f
WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = f.fp)
""",
        "text_stats_docs": """
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       length(text) AS n_chars_calc,
       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
       (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% a %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% in %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% is %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% for %' THEN 1 ELSE 0 END) AS stop_hits,
       CAST((CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% a %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% in %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% is %' THEN 1 ELSE 0 END
      + CASE WHEN ' ' || lower(text) || ' ' LIKE '% for %' THEN 1 ELSE 0 END) >= 2 AS INT) AS en_like,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
""",
        "agg_event_stats": """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(2 * median(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS median_x2_cents,
       max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_cents
FROM events GROUP BY event_type
""",
        "quantiles_event_value": """
SELECT event_type,
  quantile_disc(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.5) AS p50_cents,
  quantile_disc(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.9) AS p90_cents,
  quantile_disc(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.99) AS p99_cents,
  count(*) AS n_events
FROM events GROUP BY event_type
""",
        "window_user_lag": """
SELECT event_id, user_id,
       lag(event_id) OVER w AS prev_event_id,
       lead(event_id) OVER w AS next_event_id,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       CAST(row_number() OVER w AS INT) AS seq
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "asof_click_view": """
SELECT c.event_id, c.user_id, c.ts AS click_ts, v.ts AS view_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND v.ts <= c.ts
""",
        "lsh_near_dup_recall": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(0 AS BIGINT) AS n_false_pos,
       true AS recall_ok
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
""",
        "salted_join_events": """
SELECT c.c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
        "two_stage_agg_events": """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
       min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_cents,
       max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_cents
FROM events GROUP BY event_type
""",
        "range_join_click_error": """
SELECT c.event_id, c.user_id, e.event_id AS err_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND e.ts >= c.ts - INTERVAL 600 SECOND
 AND e.ts <= c.ts
""",
        "window_user_running": """
SELECT event_id, user_id,
       lag(event_type) OVER w AS prev_type,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
            AS BIGINT) AS running_cents,
       max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS max3_value,
       row_number() OVER w AS rn
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "lang_id_docs": _sql_lang_id_docs(),
        "text_quality_docs": _sql_text_quality_docs(),
        "repetition_docs": _sql_repetition_docs(),
        "decontaminate_docs": _sql_decontaminate_docs(),
        "sample_split_docs": _sql_sample_split_docs(),
        "stratified_sample_docs": _sql_stratified_sample_docs(),
        "outliers_events": _SQL_OUTLIERS_EVENTS,
        "approx_distinct_events": _SQL_APPROX_DISTINCT_EVENTS,
        "session_window_events": _SQL_SESSION_WINDOW_EVENTS,
        "funnel_events": _SQL_FUNNEL_EVENTS,
        "resample_user_hourly": _SQL_RESAMPLE_USER_HOURLY,
        "hopping_window_events": _SQL_HOPPING_WINDOW_EVENTS,
        "ohlc_user_hourly": _SQL_OHLC_USER_HOURLY,
        "event_paths_users": _SQL_EVENT_PATHS_USERS,
        "incremental_rollup_events": _SQL_INCREMENTAL_ROLLUP_EVENTS,
        "hll_rollup_events": _SQL_HLL_ROLLUP_EVENTS,
        "streaming_sliding_windows": _SQL_HOPPING_WINDOW_EVENTS,
        "streaming_incremental_rollup": _SQL_INCREMENTAL_ROLLUP_EVENTS,
        "variant_events_props": _SQL_VARIANT_EVENTS_PROPS,
        "moments_lineitem": _SQL_MOMENTS_LINEITEM,
        "drift_orders": _SQL_DRIFT_ORDERS,
        "fuzzy_join_part_names": _SQL_FUZZY_JOIN_PART_NAMES,
        "retention_cohorts_events": _SQL_RETENTION_COHORTS_EVENTS,
        "rfm_segments_events": _SQL_RFM_SEGMENTS_EVENTS,
        "q15_top_supplier": _SQL_Q15_TOP_SUPPLIER,
        "q8_market_share": _SQL_Q8_MARKET_SHARE,
        "q7_volume_shipping": _SQL_Q7_VOLUME_SHIPPING,
        "copurchase_pairs_lineitem": _SQL_COPURCHASE_PAIRS,
        "copurchase_pairs_capped": _SQL_COPURCHASE_PAIRS_CAPPED,
        "copurchase_triples_capped": _SQL_COPURCHASE_TRIPLES_CAPPED,
        "ttr_by_source_docs": _SQL_TTR_BY_SOURCE_DOCS,
        "decayed_score_users": _SQL_DECAYED_SCORE_USERS,
        "er_score_parts": _SQL_ER_SCORE_PARTS,
        "mutual_knn_embed": _SQL_MUTUAL_KNN_EMBED,
        "mutual_knn_ivf_embed": _SQL_MUTUAL_KNN_IVF_EMBED,
        "mutual_knn_ivf_recall": _SQL_MUTUAL_KNN_IVF_RECALL,
        "ra_link_pred_copurchase": _SQL_RA_LINK_PRED_COPURCHASE,
        "markov_transitions_events": _SQL_MARKOV_TRANSITIONS_EVENTS,
        "assoc_rules_copurchase": _SQL_ASSOC_RULES_COPURCHASE,
        "streaming_transitions": _SQL_MARKOV_TRANSITIONS_EVENTS,
        "edge_jaccard_copurchase": _SQL_EDGE_JACCARD_COPURCHASE,
        "hits_parts_customers": _SQL_HITS_PARTS_CUSTOMERS,
        "skipgram_pmi_docs": _SQL_SKIPGRAM_PMI_DOCS,
        "phrase_search_docs": _SQL_PHRASE_SEARCH_DOCS,
        "seasonality_lift_events": _SQL_SEASONALITY_LIFT_EVENTS,
        "quantile_rank_events": _SQL_QUANTILE_RANK_EVENTS,
        "vocab_growth_docs": _SQL_VOCAB_GROWTH_DOCS,
        "ks_drift_events": _SQL_KS_DRIFT_EVENTS,
        "streaming_seasonality_events": _SQL_SEASONALITY_LIFT_EVENTS,
        "session_error_overlap_events": _SQL_SESSION_ERROR_OVERLAP,
        "prefix_jaccard_docs": _SQL_PREFIX_JACCARD_DOCS,
        "attribution_user_clicks": _SQL_ATTRIBUTION_USER_CLICKS,
        "common_neighbors_copurchase": _SQL_COMMON_NEIGHBORS_COPURCHASE,
        "labelprop_copurchase": _SQL_LABELPROP_COPURCHASE,
        "multimodal_audio_decimate": """
WITH base AS (
  SELECT doc_id, n_chars % 96 + 8 AS n_raw,
         (n_chars % 96 + 8 + 3) // 4 AS n,
         list_transform(range(0, (n_chars % 96 + 8 + 3) // 4),
           i -> (doc_id * 31 + (i * 4) * 1031) % 4096 - 2048) AS s
  FROM documents)
SELECT doc_id,
       CAST(8000 + (doc_id % 6) * 8000 AS INTEGER) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_aggregate(list_transform(s, x -> x * x), 'sum')
            AS BIGINT) AS energy,
       CAST(list_aggregate(list_transform(s, x -> abs(x)), 'max')
            AS BIGINT) AS peak_abs,
       CAST(coalesce(list_aggregate(list_transform(list_zip(s, s[2:], true),
              z -> CASE WHEN z[1] * z[2] < 0 THEN 1 ELSE 0 END), 'sum'), 0)
            AS BIGINT) AS zero_cross
FROM base
""",
        "conversion_latency_events": _SQL_CONVERSION_LATENCY_EVENTS,
        "order_backlog_weekly": _SQL_ORDER_BACKLOG_WEEKLY,
        "dq_rules_orders": _SQL_DQ_RULES_ORDERS,
        "user_trend_features": _SQL_USER_TREND_FEATURES,
        "dq_rules_by_source_docs": _SQL_DQ_RULES_BY_SOURCE_DOCS,
        "mix_sources_docs": _sql_mix_sources_docs(),
        "span_dedup_docs": _sql_span_dedup_docs(),
        "bm25_docs": _sql_bm25_docs(),
        "pipeline_training_corpus": _sql_pipeline_training_corpus(),
        "ngram_jaccard_docs": """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
kept AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100),
inv AS (SELECT doc_id, grams.g FROM grams JOIN kept USING (g)),
sizes AS (SELECT doc_id, count(*) AS sz FROM inv GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_cnt
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, inter_cnt, sa.sz AS size_a, sb.sz AS size_b
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter_cnt * 1.0 / (sa.sz + sb.sz - inter_cnt) >= 0.1
""",
        "diff_apply_roundtrip": """
WITH s2 AS (SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority || '!' ELSE o_orderpriority END AS o_orderpriority
       FROM orders WHERE o_orderkey % 97 <> 0)
SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
       CAST(o_custkey AS VARCHAR) AS o_custkey,
       o_orderstatus, o_orderpriority
FROM s2
""",
        "digest_tree_orders": _SQL_DIGEST_TREE_ORDERS,
        "triangle_counts_docs": "WITH " + _SQL_NGRAM_PAIRS_BODY + """,
tri AS (
  SELECT a.id_a AS u, a.id_b AS v, b.id_b AS w
  FROM pairs a
  JOIN pairs b ON b.id_a = a.id_b
  JOIN pairs c ON c.id_a = a.id_a AND c.id_b = b.id_b),
members AS (
  SELECT u AS doc_id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri)
SELECT doc_id, count(*) AS n_tri FROM members GROUP BY doc_id
""",
        "embed_dim_stats": """
WITH x AS (
  SELECT i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings) u)
SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n_vecs,
       CAST(SUM(c) AS BIGINT) AS dim_sum_e6,
       CAST(SUM(c * c) AS BIGINT) AS dim_sumsq_e12
FROM x GROUP BY pos
""",
        "ffill_user_purchase": """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'purchase'
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_purchase_cents
FROM events
""",
        "latest_event_per_user": """
WITH k AS (
  SELECT user_id, event_id, event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
         lpad(CAST(event_id AS VARCHAR), 20, '0') AS key
  FROM events)
SELECT user_id,
       arg_max(event_id, key) AS last_event_id,
       arg_max(event_type, key) AS last_type,
       count(*) AS n_events
FROM k GROUP BY user_id
""",
        "cluster_size_hist_docs": _SQL_CC_PREFIX + """
, csizes AS (SELECT comp, count(*) AS size FROM comp GROUP BY comp)
SELECT size, count(*) AS n_components FROM csizes GROUP BY size
""",
        "bloom_semi_join_lineitem": """
SELECT l_suppkey, count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_suppkey IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY l_suppkey
""",
        "bigram_counts_docs": """
WITH t AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
g AS (
  SELECT tk[i] || ' ' || tk[i + 1] AS gram
  FROM t, LATERAL unnest(range(1, len(tk))) AS r(i)
  WHERE len(tk) >= 2)
SELECT gram, count(*) AS cnt FROM g GROUP BY gram HAVING count(*) >= 10
""",
        "hist_event_value": """
WITH c AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT LEAST(GREATEST(CAST(floor(cents / 1000) AS BIGINT), 0), 49) AS bin
  FROM c)
SELECT bin, CAST(bin * 1000 AS BIGINT) AS lo_edge, count(*) AS n
FROM b GROUP BY bin
""",
        "hist_rollup_events": """
WITH c AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT LEAST(GREATEST(CAST(floor(cents / 1000) AS BIGINT), 0), 49) AS bin
  FROM c)
SELECT bin, CAST(bin * 1000 AS BIGINT) AS lo_edge, count(*) AS n
FROM b GROUP BY bin
""",
        "hist_quantiles_event_value": """
WITH c AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT LEAST(GREATEST(CAST(floor(cents / 1000) AS BIGINT), 0), 49) AS bin
  FROM c),
h AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
cum AS (
  SELECT bin,
         CAST(sum(n) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM h),
q AS (SELECT unnest([500, 900, 990]) AS q_permille)
SELECT q.q_permille,
       CAST(min(cum.bin) AS BIGINT) AS bin,
       CAST(min(cum.bin) * 1000 AS BIGINT) AS lo_edge
FROM q JOIN cum ON cum.cum * 1000 >= q.q_permille * cum.total
GROUP BY q.q_permille
""",
        "len_pctile_by_source_docs": """
WITH b AS (
  SELECT source,
         LEAST(GREATEST(CAST(floor(n_chars / 200) AS BIGINT), 0), 19) AS bin
  FROM documents WHERE n_chars IS NOT NULL),
h AS (SELECT source, bin, count(*) AS n FROM b GROUP BY source, bin),
t AS (SELECT source, sum(n) AS total FROM h GROUP BY source),
c AS (
  SELECT h.source, h.bin, t.total,
         sum(h.n) OVER (PARTITION BY h.source ORDER BY h.bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  -- null-safe: a NULL source is a real group (the operator's grouped-
  -- histogram contract; a plain = join would drop it — r11 boundary)
  FROM h JOIN t ON h.source IS NOT DISTINCT FROM t.source),
q AS (SELECT unnest([500, 900]) AS q_permille)
SELECT source, CAST(q_permille AS BIGINT) AS q_permille,
       min(bin) AS bin, CAST(min(bin) * 200 AS BIGINT) AS lo_edge
FROM c, q
WHERE cum * 1000 >= q_permille * total
GROUP BY source, q_permille
""",
        "len_hist_by_source_docs": """
WITH b AS (
  SELECT source,
         LEAST(GREATEST(CAST(floor(n_chars / 200) AS BIGINT), 0), 19) AS bin
  FROM documents WHERE n_chars IS NOT NULL)
SELECT source, bin, CAST(bin * 200 AS BIGINT) AS lo_edge, count(*) AS n
FROM b GROUP BY source, bin
""",
        "hard_negatives_embed": """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
           FROM embeddings WHERE vec_id % 25 = 0),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> q.qid AND e.label <> q.qlabel),
ranked AS (
  SELECT qid, neighbor_id,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT qid, neighbor_id, rank FROM ranked WHERE rank <= 5
""",
        "streaming_hist_rollup": """
WITH c AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT LEAST(GREATEST(CAST(floor(cents / 1000) AS BIGINT), 0), 49) AS bin
  FROM c)
SELECT bin, CAST(bin * 1000 AS BIGINT) AS lo_edge, count(*) AS n
FROM b GROUP BY bin
""",
        "split_leakage_docs": _sql_split_leakage_docs(),
        "degree_hist_docs": "WITH " + _SQL_NGRAM_PAIRS_BODY + """,
edges AS (
  SELECT id_a AS s FROM pairs UNION ALL SELECT id_b FROM pairs),
deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
b AS (SELECT LEAST(GREATEST(CAST(deg AS BIGINT), 0), 15) AS bin FROM deg)
SELECT bin, CAST(bin AS BIGINT) AS lo_edge, count(*) AS n
FROM b GROUP BY bin
""",
        "session_stats_events": """
WITH d AS (
  SELECT user_id, ts,
         -- strict >: measured on pyspark 4.1.2, native session_window
         -- MERGES sessions that touch (an event exactly gap after its
         -- predecessor stays in the same session; gap + 1us starts a
         -- new one), matching the custom sessionize's <= gap
         -- continuation — every session oracle uses the same strict->
         -- break (pinned by tests/test_advice_fixes.py boundary test)
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
), sess AS (
  SELECT user_id, sid, count(*) AS n_ev,
         CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_s
  FROM s GROUP BY user_id, sid)
SELECT count(*) AS n_sessions,
       CAST(quantile_disc(n_ev, 0.5) AS BIGINT) AS p50_events,
       CAST(quantile_disc(n_ev, 0.9) AS BIGINT) AS p90_events,
       CAST(quantile_disc(dur_s, 0.5) AS BIGINT) AS p50_dur_s,
       CAST(quantile_disc(dur_s, 0.9) AS BIGINT) AS p90_dur_s
FROM sess
""",
        "wow_change_events": """
WITH wk AS (
  SELECT date_trunc('week', ts) AS week, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT week, event_type, n_events,
       n_events - lag(n_events) OVER (PARTITION BY event_type ORDER BY week)
         AS wow_delta
FROM wk
""",
        "dedup_survivor_longest": _SQL_CC_PREFIX
        + """
, m AS (
  SELECT c.comp, c.node, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node),
surv AS (
  SELECT comp, node AS keep FROM (
    SELECT comp, node,
           row_number() OVER (PARTITION BY comp
             ORDER BY n_chars DESC, node ASC) AS rn
    FROM m) WHERE rn = 1),
victims AS (
  SELECT m.node FROM m JOIN surv USING (comp) WHERE m.node != surv.keep)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM victims)
GROUP BY source
""",
        "asof_forward_click_purchase": """
SELECT c.event_id, c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts >= c.ts
""",
        "pctile_by_type_events": """
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events)
SELECT event_type, count(*) AS n_events,
       CAST(quantile_disc(cents, 0.50) AS BIGINT) AS p50_cents,
       CAST(quantile_disc(cents, 0.90) AS BIGINT) AS p90_cents,
       CAST(quantile_disc(cents, 0.99) AS BIGINT) AS p99_cents
FROM c GROUP BY event_type
""",
        "reconcile_orders_lineitem": """
WITH lc AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                 * (1.0 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS calc_cents
  FROM lineitem GROUP BY l_orderkey),
h AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
         lc.calc_cents
  FROM orders o LEFT JOIN lc USING (o_orderkey))
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CASE WHEN calc_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_lines,
       CAST(sum(CASE WHEN calc_cents IS NOT NULL
                      AND abs(calc_cents - total_cents) * 100 > total_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_drift_gt_1pct
FROM h GROUP BY o_orderstatus
""",
        "budget_fill_docs": f"""
WITH s AS (
  SELECT doc_id, CAST({_SQL_NTOK} AS BIGINT) AS n_tok,
         CAST({_sql_quality_decile_expr()} AS BIGINT) AS qd
  FROM documents),
o AS (
  SELECT doc_id, qd, n_tok,
         sum(n_tok) OVER (ORDER BY (10 - qd), doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM s)
SELECT doc_id, qd AS quality_decile, n_tok, CAST(cum AS BIGINT) AS cum_tokens
FROM o WHERE cum <= 10000
""",
        "distinctive_terms_by_source": """
WITH tok AS (
  SELECT source, token FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
    FROM documents)
  WHERE token != ''),
g AS (SELECT source, token, count(*) AS cnt_g FROM tok GROUP BY source, token),
a AS (SELECT token, CAST(sum(cnt_g) AS BIGINT) AS cnt_all FROM g GROUP BY token),
s AS (SELECT g.source AS "group", g.token, g.cnt_g, a.cnt_all,
             row_number() OVER (PARTITION BY g.source
               ORDER BY CAST(g.cnt_g AS DOUBLE) / CAST(a.cnt_all AS DOUBLE) DESC,
                        g.token) AS rank
      FROM g JOIN a USING (token) WHERE g.cnt_g >= 5)
SELECT "group", token, CAST(rank AS INTEGER) AS rank, cnt_g, cnt_all
FROM s WHERE rank <= 5
""",
        "shingle_overlap_sources": """
WITH toks AS (
  SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM documents),
sh AS (
  SELECT DISTINCT source, array_to_string(tk[i:i+2], ' ') AS sh
  FROM (SELECT source, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
pairs AS (
  SELECT a.source AS group_a, b.source AS group_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2)
SELECT group_a, group_b, n_shared, sa.sz AS n_a, sb.sz AS n_b
FROM pairs
JOIN sizes sa ON sa.source = group_a
JOIN sizes sb ON sb.source = group_b
""",
        "oov_by_source_docs": """
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents),
v AS (
  SELECT token FROM (
    SELECT token, count(*) AS cnt FROM t WHERE token != ''
    GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100)),
tok AS (
  SELECT source, token FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
    FROM documents)
  WHERE token != '')
SELECT d.source, CAST(count(tok.token) AS BIGINT) AS n_tokens,
       CAST(coalesce(sum(CASE WHEN tok.token IN (SELECT token FROM v)
                               THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_oov
FROM (SELECT DISTINCT source FROM documents) d
LEFT JOIN tok ON tok.source = d.source
GROUP BY d.source
""",
        "dedup_rate_by_source_docs": """
WITH fp AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice(regexp_split_to_array(text, '\\s+'), 1, 2), ' ')) AS fp
  FROM documents),
c AS (
  SELECT source, count(*) OVER (PARTITION BY fp) AS cnt FROM fp)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
FROM c GROUP BY source
""",
        "pmi_event_pairs": """
WITH pres AS (SELECT DISTINCT user_id, event_type FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_ab
  FROM pres a JOIN pres b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2),
marg AS (SELECT event_type, count(*) AS n FROM pres GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM pres)
SELECT p.type_a, p.type_b, p.n_ab,
       ma.n AS n_a, mb.n AS n_b, tot.n_users
FROM pairs p
JOIN marg ma ON ma.event_type = p.type_a
JOIN marg mb ON mb.event_type = p.type_b
CROSS JOIN tot
""",
        "chunk_docs": """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
st AS (
  SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk), 1), 56)) AS s
  FROM toks)
SELECT doc_id,
       CAST((s - 1) / 56 AS BIGINT) AS chunk_no,
       CAST(len(tk[s:s+63]) AS BIGINT) AS n_tokens,
       md5(array_to_string(tk[s:s+63], ' ')) AS chunk_md5
FROM st
""",
        "vocab_topk_docs": """
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents)
SELECT token, count(*) AS cnt FROM t WHERE token != ''
GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100
""",
        "pack_sequences_docs": """
WITH s AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents),
c AS (
  SELECT doc_id, n_tokens, h % 32 AS bucket,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY h % 32 ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM s)
SELECT doc_id, n_tokens, bucket,
       CAST(bef // 512 AS BIGINT) AS pack_no,
       CAST(bef % 512 AS BIGINT) AS pack_offset
FROM c
""",
        "tfidf_top_docs": """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> ''
  GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
r AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df_docs,
         row_number() OVER (PARTITION BY tf.doc_id
            ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df_docs DESC, tf.token ASC)
           AS rnk
  FROM tf JOIN dfreq USING (token))
SELECT doc_id, token, tf, df_docs, rnk FROM r WHERE rnk <= 3
""",
        "pii_scrub_docs": """
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com via https://ex.org/u/' || CAST(doc_id AS VARCHAR)
              || ' or +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
           AS t
  FROM documents),
nourl AS (
  SELECT doc_id, t, regexp_replace(t, 'https?://[^\\s]+', ' ', 'g') AS tnu
  FROM aug)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
  CAST(len(regexp_extract_all(tnu,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(tnu, '\\+?\\d[\\d -]{7,}\\d')) AS BIGINT) AS n_phones,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(t, 'https?://[^\\s]+', '<URL>', 'g'),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g')
  ) AS scrubbed_md5
FROM nourl
""",
        "dedup_cluster_docs": _SQL_CC_PREFIX
        + "SELECT node AS doc_id, comp FROM comp",
        # same operator and pair graph as dedup_cluster_docs: one oracle
        "cc_star_docs": _SQL_CC_PREFIX
        + "SELECT node AS doc_id, comp FROM comp",
        "dedup_survivor_corpus": _SQL_CC_PREFIX
        + """
SELECT source, count(*) AS n_docs,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node != comp)
GROUP BY source
""",
        "srp_near_dup_embed": _SQL_SRP_PREFIX + """
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 8
""",
        # SRP pairs -> recursive-CTE connected components -> min-id
        # survivors -> per-label census: both engines replay the ENTIRE
        # LSH -> graph -> dedup pipeline end to end
        "srp_dedup_embed": _SQL_SRP_CC_PREFIX + """
SELECT label,
       count(*) AS n_kept,
       CAST(min(vec_id) AS BIGINT) AS min_kept_id,
       CAST(sum(vec_id) AS BIGINT) AS sum_kept_ids
FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != comp)
GROUP BY label
""",
        "embed_cosine_near_dup": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
""",
        "embed_centroid_lang": """
WITH j AS (
  SELECT d.lang, e.embedding
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
x AS (
  SELECT lang, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT lang, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM j) u)
SELECT lang, CAST(pos AS BIGINT) AS pos,
       CAST(SUM(c) AS BIGINT) AS dim_sum_e6, count(*) AS n_vecs
FROM x GROUP BY lang, pos
""",
        "minhash_portable_docs": _sql_minhash_portable_docs(),
        "simhash_portable_docs": _sql_simhash_portable_docs(),
        "minhash_native_docs": _sql_minhash_pairs_docs(),
        "minhash_lsh_docs": r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks) u),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
rawpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_cnt
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
strong AS (
  SELECT id_a, id_b FROM rawpairs
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter_cnt * 1.0 / (sa.sz + sb.sz - inter_cnt) >= 0.35)
SELECT count(*)::BIGINT AS n_strong,
       0::BIGINT AS n_below_025,
       TRUE AS recall_ok
FROM strong
""",
        "minhash_cluster_docs": _sql_minhash_cc_docs(),
        "simhash_docs": _sql_simhash_pairs_docs(),
        "fingerprint_rolling_docs": """
SELECT doc_id,
  list_reduce(
    [CAST(0 AS BIGINT)] || list_transform(regexp_split_to_array(trim(text), '\\s+'),
      tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647),
    (a, b) -> (a * 1000003 + b) % 2147483647) AS rolling_fp
FROM documents
""",
        "ann_topk_cosine": _SQL_EXACT_TOPK,
        # BLAS path ranks identically to the sequential fold (margin
        # analysis in _q_ann_topk_arrow) — same exact oracle
        "ann_topk_arrow": _SQL_EXACT_TOPK,
        # full-probe IVF (nprobe == nlist) is exact by construction, so
        # the brute-force top-k SQL is its oracle too — this verifies
        # the IVF assignment/probe/merge machinery end-to-end
        "ann_ivf_topk": _SQL_EXACT_TOPK,
        # auto-sized IVF (nlist="auto", nprobe="all"): full probe is
        # exact whatever the data-derived cell count — same oracle
        "ann_ivf_auto_topk": _SQL_EXACT_TOPK,
        "pivot_orders_status_priority": _SQL_PIVOT_ORDERS,
        "spearman_trend_events": _SQL_SPEARMAN_TREND,
        "hapax_by_source_docs": _SQL_HAPAX_BY_SOURCE,
        "golden_record_docs": _SQL_GOLDEN_RECORD,
        "block_volume_winnow_docs": _SQL_BLOCK_VOLUME_WINNOW,
        "weighted_sample_aes_docs": _SQL_WEIGHTED_SAMPLE,
        "collapse_repeats_events": _SQL_COLLAPSE_REPEATS,
        "q18_large_volume_customers": _SQL_Q18,
        "q22_idle_balance_customers": _SQL_Q22,
        "chi2_source_lang_docs": _SQL_CHI2_SOURCE_LANG,
        "simpson_diversity_docs": _SQL_SIMPSON_DIVERSITY,
        # int8 codes replayed exactly: scale is a max (no fold), codes
        # are floors of correctly-rounded divides, the code dot is an
        # integer sum (order-independent), and the rank key keeps the
        # same (dot * s_corpus) * s_query multiply shape on both sides
        "ann_topk_quantized": """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sc AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM base),
qz AS (
  SELECT vec_id, s,
         CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(x / s * 127) AS BIGINT))
         END AS q
  FROM sc),
qs AS (SELECT vec_id AS qid, s AS sb, q AS qb FROM qz WHERE vec_id % 25 = 0),
pairs AS (
  SELECT qs.qid, e.vec_id AS neighbor_id,
         CAST(list_dot_product(e.q, qs.qb) AS BIGINT) AS dot_q,
         (list_dot_product(e.q, qs.qb) * e.s) * qs.sb AS sim
  FROM qz e, qs WHERE e.vec_id <> qs.qid),
ranked AS (
  SELECT qid, neighbor_id,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id)
           AS rank,
         dot_q
  FROM pairs)
SELECT qid, neighbor_id, rank, dot_q FROM ranked WHERE rank <= 5
""",
        "multimodal_payload_stats": """
SELECT source, count(*) AS n_docs,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       count(DISTINCT md5(text)) AS n_distinct,
       min(md5(text)) AS min_md5
FROM documents GROUP BY source
""",
        "multimodal_frames": """
WITH pay AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
fr AS (SELECT doc_id, text,
              unnest(range(0, CAST(floor(octet_length(encode(text)) / 16) AS BIGINT), 4)) AS frame_no
       FROM pay)
SELECT doc_id, frame_no,
       to_base64(encode(substring(text, CAST(frame_no * 16 + 1 AS BIGINT), 16))) AS frame_b64
FROM fr
""",
        "multimodal_sniff_parse": """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'image/jpeg' END AS media,
       CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars % 640 + 1 AS INTEGER) END AS width,
       CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars % 480 + 1 AS INTEGER) END AS height,
       CASE WHEN doc_id % 3 = 1 THEN CAST(n_chars % 2 + 1 AS INTEGER) END AS n_channels,
       CASE WHEN doc_id % 3 = 1 THEN CAST(8000 + (n_chars % 6) * 8000 AS INTEGER) END AS sample_rate
FROM documents
""",
        # formulaic recompute — never touches bytes; the Spark side went
        # bytes -> parse -> features, so construct/decode bugs mismatch
        "multimodal_audio_features": """
WITH base AS (
  SELECT doc_id, n_chars % 96 + 8 AS n,
         list_transform(range(0, n_chars % 96 + 8),
           i -> (doc_id * 31 + i * 1031) % 4096 - 2048) AS s
  FROM documents)
SELECT doc_id,
       CAST(8000 + (doc_id % 6) * 8000 AS INTEGER) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_aggregate(list_transform(s, x -> x * x), 'sum')
            AS BIGINT) AS energy,
       CAST(list_aggregate(list_transform(s, x -> abs(x)), 'max')
            AS BIGINT) AS peak_abs,
       CAST(coalesce(list_aggregate(list_transform(list_zip(s, s[2:], true),
              z -> CASE WHEN z[1] * z[2] < 0 THEN 1 ELSE 0 END), 'sum'), 0)
            AS BIGINT) AS zero_cross
FROM base
""",
        "benford_orders": _SQL_BENFORD_ORDERS,
        "ppr_copurchase": _SQL_PPR_COPURCHASE,
        "gini_event_mix_users": _SQL_GINI_EVENT_MIX_USERS,
        "twap_user_hourly": _SQL_TWAP_USER_HOURLY,
        "kcore_copurchase": _SQL_KCORE_COPURCHASE,
        "scd2_enrich_orders": _SQL_SCD2_ENRICH_ORDERS,
        "knn_eval_embed": _SQL_KNN_EVAL_EMBED,
        "cusum_hourly_events": _SQL_CUSUM_HOURLY_EVENTS,
        "sorted_neighborhood_parts": _SQL_SORTED_NEIGHBORHOOD_PARTS,
        "khop_copurchase": _SQL_KHOP_COPURCHASE,
        "wpagerank_copurchase": _SQL_WPAGERANK_COPURCHASE,
        "max_concurrency_events": """
WITH iv AS (
  SELECT ts AS s,
         ts + CAST(floor(value) AS BIGINT) * INTERVAL 1 SECOND AS e
  FROM events),
d AS (SELECT s AS t, 1 AS dd FROM iv UNION ALL SELECT e, -1 FROM iv),
r AS (SELECT t, sum(dd) OVER (ORDER BY t) AS run FROM d),
h AS (SELECT date_trunc('hour', t) AS grain_start,
             max(run) AS peak, arg_max(run, t) AS exit_level,
             min(t) AS first_t
      FROM r GROUP BY 1)
SELECT grain_start,
       CAST(greatest(
         CASE WHEN first_t > grain_start THEN
           coalesce(lag(exit_level) OVER (ORDER BY grain_start), 0) END,
         peak) AS BIGINT) AS max_concurrency
FROM h
""",
        "streaming_sessions": """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
""",
        "streaming_events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS value_e4
FROM events GROUP BY 1, 2
""",
        "streaming_click_attrib": """
SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
FROM events c JOIN events v
  ON c.user_id = v.user_id
 AND v.ts BETWEEN c.ts - INTERVAL 24 HOUR AND c.ts
WHERE c.event_type = 'click' AND v.event_type = 'view'
""",
        "streaming_enriched_segments": """
SELECT c.c_mktsegment, e.event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS value_e4
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
        # minhash_lsh_docs: pyspark.ml-internal hash seeds, deliberately
        # no SQL oracle (driver rows-only check + exact-Jaccard pytest
        # cross-check).
        "cap_per_source_docs": _sql_cap_per_source_docs(),
        "token_rarity_docs": _sql_token_rarity_docs(),
        "change_intervals_events": _sql_change_intervals_events(),
        "streaming_dedup_events": _sql_streaming_dedup_events(),
        "profile_orders": _sql_profile_orders(),
        "ann_pq_recall": _sql_ann_pq_recall(),
        "hard_negatives_ivf_recall": """
SELECT (10 * count(*))::BIGINT AS n_exact, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 25 = 0
""",
        "ann_ivf_auto_recall": """
SELECT (10 * count(*))::BIGINT AS n_exact, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 25 = 0
""",
        "mwu_click_view_events": _SQL_MWU_CLICK_VIEW,
        "acf_value_events": _SQL_ACF_VALUE,
        "kappa_langid_docs": _sql_kappa_langid_docs(),
        "tv_source_docs": _SQL_TV_SOURCE,
        "kmv_distinct_docs": _SQL_KMV_DISTINCT,
        "pettitt_change_events": _SQL_PETTITT_CHANGE,
        "gini_value_by_type_events": _SQL_GINI_VALUE_BY_TYPE,
        "fano_hourly_events": _SQL_FANO_HOURLY,
        "merge_upsert_orders": _sql_merge_upsert_orders(),
        "weighted_sample_docs": _sql_weighted_sample_docs(),
    }
