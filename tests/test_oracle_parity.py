"""Local rehearsal of the driver's correctness gate: every ``queries()``
entry vs its ``oracle_sql()`` via DuckDB at sf0.001 — row count, column
names, and order-insensitive value equality.

This is the strongest test in the suite: it runs the REAL contract surface
(`__spark_entry__.py`) end-to-end on the real driver testdata.
"""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ENTRY

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: lowercase sorted columns,
    datetimes to ISO strings, floats rounded to 9 sig decimals, rows
    sorted by every column."""
    out = df.copy()
    out.columns = [c.lower() for c in out.columns]
    out = out[sorted(out.columns)]
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                else round(v, 9)
            )
        else:
            out[c] = out[c].map(lambda v: None if pd.isna(v) else v)
    out = out.sort_values(by=list(out.columns), na_position="first").reset_index(
        drop=True
    )
    return out


ORACLE = ENTRY.oracle_sql()
QUERIES = ENTRY.queries()


def test_every_oracle_has_a_query():
    assert set(ORACLE) <= set(QUERIES)


def test_never_checked_queries_lead_the_driver_window():
    """The driver checks the first 50 registered queries each round, so
    a query that no CORRECTNESS_r*.json has ever listed must sit inside
    that window, or it can go unchecked round after round."""
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            checked.update(json.load(f))
    window = set(list(QUERIES)[:50])
    assert sorted(set(QUERIES) - checked - window) == []


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, duck, name):
    spark_df = QUERIES[name](spark, SF_DIR).toPandas()
    duck_df = duck.sql(ORACLE[name]).df()

    a, b = normalize(spark_df), normalize(duck_df)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    if len(a):
        eq = a.eq(b) | (a.isna() & b.isna())
        bad = (~eq.all(axis=1)).to_numpy().nonzero()[0]
        assert len(bad) == 0, (
            f"{name}: {len(bad)} mismatched rows, first:\n"
            f"spark: {a.iloc[bad[0]].to_dict()}\n"
            f"duck : {b.iloc[bad[0]].to_dict()}"
        )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_oracle_less_queries_run(spark, name):
    """Queries without an oracle still must execute and return a stable
    schema (the driver's weaker rows-only check)."""
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = ENTRY.entry(spark)
    assert df.count() > 0
    assert "CompColArr" in df.columns and "Flag" in df.columns
