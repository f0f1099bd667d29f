"""The four workloads: one op each, built only from the engine's public
functions, plus the per-op output check against the oracle child's
expectations (oracle.py).

Every op reads its inputs through ``sources.read_parquet_table`` inside
the op, so a table read is part of what is timed.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import Observation
from pyspark.sql import functions as F

import oracle as ORACLE

# the engine's modules are looked up at call time (``SRC.read_parquet_table``
# and so on) so that a traced run can wrap their attributes
from pyspark_datacol_diff_spark import sources as SRC
from pyspark_datacol_diff_spark.operators import cluster as CC
from pyspark_datacol_diff_spark.operators import dedup as DD
from pyspark_datacol_diff_spark.operators import diff as DIFF

LINEITEM_PK = ["l_orderkey", "l_linenumber"]
ORDERS_CDC_COLS = ["o_custkey", "o_orderstatus", "o_orderpriority"]
FLAGS = {"NODIFF": "NODIFF", "S1_ONLY": "S1_ONLY", "S2_ONLY": "S2_ONLY", "": "DIFF"}


def lineitem_pair(li):
    """The perturbed lineitem pair of ``oracle_sql()["diff_lineitem_flags"]``:
    drop two key slices, mutate three columns on fixed key residues."""
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    s1 = li.filter(ok % 89 != 0)
    s2 = (
        li.filter(ok % 83 != 0)
        .withColumn("l_returnflag", F.when((ok + ln) % 17 == 0, F.lit("Z"))
                    .otherwise(F.col("l_returnflag")))
        .withColumn("l_suppkey", F.when((ok * 7 + ln) % 19 == 0, F.col("l_suppkey") + 500)
                    .otherwise(F.col("l_suppkey")))
        .withColumn("l_discount", F.when((ok + ln) % 23 == 0, F.col("l_discount") + F.lit(0.01))
                    .otherwise(F.col("l_discount")))
    )
    return s1, s2


def orders_pair(o):
    """The perturbed orders pair of ``oracle_sql()["diff_apply_roundtrip"]``."""
    k = F.col("o_orderkey")
    s1 = o.filter(k % 101 != 0)
    s2 = (
        o.filter(k % 97 != 0)
        .withColumn("o_custkey", F.when(k % 11 == 0, F.col("o_custkey") + 1000000)
                    .otherwise(F.col("o_custkey")))
        .withColumn("o_orderstatus", F.when(k % 13 == 0, F.lit("X"))
                    .otherwise(F.col("o_orderstatus")))
        .withColumn("o_orderpriority", F.when(k % 7 == 0, F.concat(F.col("o_orderpriority"), F.lit("!")))
                    .otherwise(F.col("o_orderpriority")))
    )
    return s1, s2


def frame_signature(rows, cols) -> list:
    from parity import _frame_sig

    n, names, digest = _frame_sig([tuple(r) for r in rows], list(cols))
    return [n, names, digest]


class Workload:
    """``op(i)`` runs op number i and returns what ``check`` compares;
    ``action(fn)`` runs each Spark action so a traced run can span it."""

    name = ""

    def __init__(self, spark, data_dir, out_dir, expect, seed, action):
        self.spark = spark
        self.data = data_dir
        self.out = out_dir
        self.expect = expect
        self.seed = seed
        self.action = action
        # outputs on disk that the oracle child reads back after the loop
        self.written: list[str] | None = None

    def op(self, i: int):
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def perturb(self, result):
        """A wrong copy of ``result`` (the checker's negative test)."""
        raise NotImplementedError


class DiffReconcile(Workload):
    name = "diff_reconcile"

    def op(self, i):
        li = SRC.read_parquet_table(self.spark, self.data, "lineitem")
        s1, s2 = lineitem_pair(li)
        d, stats = DIFF.compute_dataframe_diff(s1, s2, LINEITEM_PK)
        flag_obs, col_obs = Observation(f"flags{i}"), Observation(f"cols{i}")
        cols = [c[0] for c in ORACLE.LINEITEM_COLS]
        detail = (
            d.observe(flag_obs, *[
                F.coalesce(F.sum((F.col("Flag") == f).cast("long")), F.lit(0)).alias(a)
                for f, a in FLAGS.items()
            ])
            .select(*[F.col(k + "_s1").alias(k) for k in LINEITEM_PK],
                    F.explode("CompColArr").alias("e"))
            .select(*LINEITEM_PK, "e.col_name", "e.s1_value", "e.s2_value")
            .observe(col_obs, *[
                F.coalesce(F.sum((F.col("col_name") == c).cast("long")), F.lit(0)).alias(c)
                for c in cols
            ])
        )
        self.action(lambda: detail.write.format("noop").mode("overwrite").save())
        # observed metrics arrive through Spark's async listener bus:
        # ``check`` waits for them, outside the op's time
        return {"stats": stats, "flags": flag_obs, "entries": col_obs}

    def check(self, r) -> bool:
        stats = {row.ColName: int(row.Count) for row in r["stats"].itertuples()}
        want_flags = {a: self.expect["flags"].get(f, 0) for f, a in FLAGS.items()}
        want_cols = self.expect["columns"]
        return (
            dict(r["flags"].get) == want_flags
            and dict(r["entries"].get) == want_cols
            and stats == {c: n for c, n in want_cols.items() if n > 0}
        )

    def perturb(self, r):
        bad = r["stats"].copy()
        bad.loc[bad.ColName == "l_suppkey", "Count"] += 1
        return {**r, "stats": bad}


class DiffCdcWrite(Workload):
    name = "diff_cdc_write"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.written = []

    def op(self, i):
        o = SRC.read_parquet_table(self.spark, self.data, "orders")
        s1, s2 = orders_pair(o)
        d = DIFF.diff(s1, s2, ["o_orderkey"], compare_cols=ORDERS_CDC_COLS,
                      carry_unmatched=True)
        rebuilt = DIFF.apply_diff(s1, d, ["o_orderkey"], ORDERS_CDC_COLS)
        path = os.path.join(self.out, f"changeset-{i}")
        SRC.write_parquet(rebuilt, path)
        return path

    def check(self, path) -> bool:
        # read back with DuckDB by the oracle child after the timed loop
        self.written.append(path)
        return True

    def perturb(self, path):
        import pyarrow.parquet as pq

        for name in sorted(os.listdir(path)):
            f = os.path.join(path, name)
            if name.endswith(".parquet") and pq.read_metadata(f).num_rows > 0:
                t = pq.read_table(f)
                vals = t.column("o_orderstatus").to_pylist()
                vals[0] = (vals[0] or "") + "?"
                i = t.schema.get_field_index("o_orderstatus")
                pq.write_table(t.set_column(i, "o_orderstatus", [vals]), f)
                break
        return path


class QueryMixShort(Workload):
    name = "query_mix_short"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        import __spark_entry__ as E

        self.queries = E.queries()
        self.order = list(ORACLE.MIX_QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def op(self, i):
        out = {}
        for q in self.order:
            df = self.query(q)
            rows = self.action(df.collect)
            out[q] = (rows, df.columns)
        return out

    def query(self, q):
        return self.queries[q](self.spark, self.data)

    def check(self, r) -> bool:
        sigs = self.expect["signatures"]
        return all(frame_signature(*r[q]) == sigs[q] for q in ORACLE.MIX_QUERIES)

    def perturb(self, r):
        q = self.order[0]
        rows, cols = r[q]
        return {**r, q: (list(rows) + [tuple([None] * len(cols))], cols)}


class DedupGraph(Workload):
    name = "dedup_graph"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        import __spark_entry__ as E

        self.pagerank = E.queries()["pagerank_copurchase"]
        self.rounds: list[int] = []

    def op(self, i):
        docs = SRC.read_parquet_table(self.spark, self.data, "documents")
        pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                       threshold=0.1, max_df=100)
        stats: dict = {}
        comps = CC.connected_components(pairs, "id_a", "id_b", stats=stats)
        self.rounds.append(int(stats.get("rounds", 0)))
        comps = comps.select(F.col("node").alias("doc_id"), F.col("comp"))
        cc_rows = self.action(comps.collect)
        ranks = self.pagerank(self.spark, self.data)
        pr_rows = self.action(ranks.collect)
        return {
            "dedup_cluster_docs": (cc_rows, comps.columns),
            "pagerank_copurchase": (pr_rows, ranks.columns),
        }

    def check(self, r) -> bool:
        sigs = self.expect["signatures"]
        return all(frame_signature(*r[q]) == sigs[q] for q in ORACLE.DEDUP_QUERIES)

    def perturb(self, r):
        rows, cols = r["dedup_cluster_docs"]
        return {**r, "dedup_cluster_docs": (list(rows)[1:], cols)}


WORKLOADS = {w.name: w for w in (DiffReconcile, DiffCdcWrite, QueryMixShort, DedupGraph)}
