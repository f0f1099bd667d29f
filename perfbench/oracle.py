"""Inputs and expected outputs for one benchmark run, computed apart from
the engine.

Runs as a child process of ``run.py`` so that neither the generated
arrays nor DuckDB's memory count toward the engine's resident set:

    python3 perfbench/oracle.py prepare --workload W --seed N --scale SF \
        --data DIR --out expect.json --threads T
    python3 perfbench/oracle.py verify --data DIR --threads T OUT_DIR...

``prepare`` writes the workload's tables (datagen.py) and the expected
results: DuckDB runs the project's own ``oracle_sql()`` text over the
same parquet files. ``verify`` reads written changesets back with
DuckDB and compares each with ``oracle_sql()["diff_apply_roundtrip"]``
(the round trip ``apply_diff(s1, diff(s1, s2)) == s2``); it prints one
JSON list of booleans.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import datagen  # noqa: E402

MIX_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "rollup_customers_by_region",
    "setop_building_except_frequent",
    "setop_automobile_with_orders",
    "q6_forecast_revenue",
    "q4_order_priority",
    "q12_late_lines_by_status",
    "q13_custdist",
    "q14_promo_effect",
]
DEDUP_QUERIES = ["dedup_cluster_docs", "pagerank_copurchase"]

# compare columns of the lineitem diff, in table order, with the column
# pair each one becomes in the oracle's ``j`` CTE; strings compare with
# the diff's default null == '' semantics
LINEITEM_COLS = [
    ("l_partkey", "pk1", "pk2", False),
    ("l_suppkey", "sk1", "sk2", False),
    ("l_quantity", "q1", "q2", False),
    ("l_extendedprice", "ep1", "ep2", False),
    ("l_discount", "dc1", "dc2", False),
    ("l_tax", "tx1", "tx2", False),
    ("l_returnflag", "rf1", "rf2", True),
    ("l_linestatus", "ls1", "ls2", True),
    ("l_shipdate", "sd1", "sd2", False),
]

TABLES_FOR = {
    "diff_reconcile": ["lineitem"],
    "diff_cdc_write": ["orders"],
    "query_mix_short": datagen.TABLES,
    "dedup_graph": ["documents", "lineitem"],
}


def _connect(data: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for t in datagen.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _count(con, sql: str) -> int:
    return int(con.execute(sql).fetchone()[0])


def _signature(con, sql: str) -> list:
    from parity import _frame_sig

    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    n, names, digest = _frame_sig([tuple(r) for r in res.fetchall()], cols)
    return [n, names, digest]


def _tables_in(sql: str) -> list[str]:
    return [t for t in datagen.TABLES if re.search(rf"\b{t}\b", sql)]


def expected(workload: str, con, rows: dict[str, int]) -> dict:
    """Expected outputs plus ``op_rows``: the input rows one op processes."""
    import __spark_entry__ as E

    osql = E.oracle_sql()
    if workload == "diff_reconcile":
        flags_sql = osql["diff_lineitem_flags"]
        prefix = flags_sql[: flags_sql.rindex("SELECT CASE")]
        flags = {f: int(c) for f, c in con.execute(flags_sql).fetchall()}
        per_col = []
        for name, a, b, is_str in LINEITEM_COLS:
            pred = (
                f"coalesce({a},'') <> coalesce({b},'')"
                if is_str
                else f"{a} IS DISTINCT FROM {b}"
            )
            per_col.append(f"CAST(count(*) FILTER (WHERE {pred}) AS BIGINT) AS {name}")
        cols_row = con.execute(
            prefix + "SELECT " + ", ".join(per_col)
            + " FROM j WHERE k1a IS NOT NULL AND k2a IS NOT NULL"
        ).fetchone()
        op_rows = _count(con, "SELECT count(*) FROM lineitem WHERE l_orderkey % 89 <> 0") + _count(
            con, "SELECT count(*) FROM lineitem WHERE l_orderkey % 83 <> 0"
        )
        return {
            "flags": flags,
            "columns": {c[0]: int(v) for c, v in zip(LINEITEM_COLS, cols_row)},
            "op_rows": op_rows,
        }
    if workload == "diff_cdc_write":
        n_s2 = _count(con, f"SELECT count(*) FROM ({osql['diff_apply_roundtrip']})")
        op_rows = _count(con, "SELECT count(*) FROM orders WHERE o_orderkey % 101 <> 0") + _count(
            con, "SELECT count(*) FROM orders WHERE o_orderkey % 97 <> 0"
        )
        return {"s2_rows": n_s2, "op_rows": op_rows}
    names = MIX_QUERIES if workload == "query_mix_short" else DEDUP_QUERIES
    sigs = {q: _signature(con, osql[q]) for q in names}
    if workload == "query_mix_short":
        op_rows = sum(rows[t] for q in names for t in _tables_in(osql[q]))
    else:
        op_rows = rows["documents"] + rows["lineitem"]
    return {"signatures": sigs, "op_rows": op_rows}


def verify_written(con, out_dirs: list[str]) -> list[bool]:
    """One bool per written changeset: equal as multisets to the oracle's
    s2, compared on every column as text."""
    import __spark_entry__ as E

    want = E.oracle_sql()["diff_apply_roundtrip"]
    ok = []
    for d in out_dirs:
        got = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority "
            f"FROM read_parquet('{d}/*.parquet')"
        )
        try:
            n = _count(con, f"SELECT count(*) FROM ({got})")
            extra = _count(con, f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))")
            missing = _count(con, f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))")
            ok.append(n > 0 and extra == 0 and missing == 0)
        except Exception as e:  # unreadable output counts as a wrong one
            print(f"verify {d}: {e!r}", file=sys.stderr)
            ok.append(False)
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("prepare")
    p.add_argument("--workload", required=True, choices=sorted(TABLES_FOR))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", type=float, required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--threads", type=int, required=True)
    v = sub.add_parser("verify")
    v.add_argument("--data", required=True)
    v.add_argument("--threads", type=int, required=True)
    v.add_argument("dirs", nargs="*")
    args = ap.parse_args()

    if args.cmd == "prepare":
        rows = datagen.write_tables(
            args.data, args.seed, args.scale, TABLES_FOR[args.workload]
        )
        exp = expected(args.workload, _connect(args.data, args.threads), rows)
        exp["table_rows"] = rows
        with open(args.out, "w") as f:
            json.dump(exp, f)
        return 0
    print(json.dumps(verify_written(_connect(args.data, args.threads), args.dirs)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
