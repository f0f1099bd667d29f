#!/usr/bin/env python3
"""Empirical scaling smoke: run the heavy operators at 1x and 10x data
volume and report the time ratio — the "would the plan survive a
scale-up" claim measured instead of argued.

Synthesizes the 10x set from sf0.1 with REPLICA-DISTINCT content:

- documents: every token suffixed ``_r{k}`` per replica, so replicas
  share no shingles — near-dup candidate volume grows linearly with
  corpus size (duplicating text verbatim would instead grow the TRUE
  near-dup pair set quadratically, which is correct behavior but tests
  the data, not the plan);
- embeddings: vectors rotated by ``k`` positions — norms and
  within-replica geometry preserved, cross-replica similarity broken;
- events / orders: key-offset copies (new users / orders, same time
  range and value distributions).

On fixed cores, a shuffle-linear plan should land near ratio 10 (CPU
bound) and anything pair-quadratic or single-task-bottlenecked lands
far above; ratios well under 10 just mean fixed per-job overhead still
dominates at sf0.1. Writes ``SCALETEST.json`` (or argv[1]).

Usage: python3 scripts/scale_smoke.py [out.json] [replicas=10]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = sys.argv[1] if len(sys.argv) > 1 else "SCALETEST.json"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 10
BASE = "/root/testdata/sf0.1"

QUERIES = [
    "repetition_docs",
    "text_stats_docs",
    "ngram_jaccard_docs",
    "minhash_native_docs",
    "simhash_docs",
    "dedup_cluster_docs",
    "ann_topk_cosine",
    "session_window_events",
    "two_stage_agg_events",
    "diff_orders_detail",
    "digest_orders",
    "profile_orders",
    "change_intervals_events",
    "token_rarity_docs",
    # round-4 additions
    "bigram_counts_docs",
    "triangle_counts_docs",
    "digest_tree_orders",
    "bloom_semi_join_lineitem",
    "hard_negatives_embed",
    # round-5 additions: cc_star_docs (connected components over the
    # same pair graph as dedup_cluster_docs; the name is kept from the
    # deleted star variant), and the two stateful streaming shapes
    # (watermark-bounded state is a design claim the smoke now
    # measures: state rows at 1x vs 10x are recorded and must grow
    # ~linearly with keys)
    "cc_star_docs",
    "streaming_dedup_events",
    "streaming_hist_rollup",
    # portable exact-int SRP LSH over embeddings (Arrow int64 matmul +
    # band-key join — the embedding-dedup scale path), and the full
    # composition (SRP pairs -> CC -> survivors -> census): connected
    # components over a high-diameter LSH chain graph at volume
    "srp_near_dup_embed",
    "srp_dedup_embed",
    # iterative integer PageRank over the co-purchase graph (3 rounds,
    # 2 shuffles/round, per-round checkpoint+release — the iterative-
    # loop hygiene claim measured at volume) and the Misra-Gries
    # two-pass heavy hitters (bounded sketch state: the candidate
    # collect must stay partitions*(k+1)-bounded while the corpus 10x's)
    "pagerank_copurchase",
    "heavy_hitters_docs",
    # streaming MG maintenance: state is the k-bounded parquet summary
    # (foreachBatch versions, not the state store — boundedness is
    # pinned by tests/test_streaming.py; the smoke measures replay
    # wall time growth)
    "streaming_heavy_hitters",
    # round-6 addition: the core diff with a hot join key on one side
    # (20% of s2 collapsed onto -1) — full-outer joins are outside
    # AQE's skew-split reach, so the hot-partition growth is measured
    # here rather than asserted (round-5 verdict #7)
    "diff_orders_skewed",
    # round-6 additions: the Lloyd-cell-bucketed GEMM pair miner (cell
    # sizes grow with the corpus at fixed nlist, so the per-cell
    # quadratic term is the claim under measurement) and the sweep-line
    # two-phase prefix scan (per-day parallel windows + bounded gathers
    # — the no-global-sort-window claim at volume)
    "kmeans_cosine_pairs_embed",
    "max_concurrency_events",
    # late round-6 additions: bounded-round peeling over the pair graph
    # (per-round degree agg + shrinking semi joins at volume), the
    # TWAP window+explode+aggregate chain, and the SCD2 version-bounded
    # fan-out join
    "kcore_copurchase",
    "twap_user_hourly",
    "scd2_enrich_orders",
    # final round-6 wave: frontier BFS over the pair graph (semi+anti
    # joins per hop at volume) and the closed-form CUSUM windows
    "khop_copurchase",
    "cusum_hourly_events",
    # round-7 addition: the hot-basket-capped pair miner — the skewed-
    # basket guard's scale claim (per-basket work bounded at
    # min(s, cap)^2, so a 10x corpus with the same basket-size
    # distribution scales in rows, not in squared basket size)
    "copurchase_pairs_capped",
    # round-7: prefix-filtered exact set similarity — the claim under
    # measurement is that the prefix bound (not a max_df cut) keeps
    # the inverted index subquadratic at 10x corpus
    "prefix_jaccard_docs",
    # late round-7 additions (recorded in SCALETEST_r08 onward — they
    # landed after this round's artifact run): keyed-window attribution
    # (pure projection after one sort) and the degree-capped wedge
    # expansion
    "attribution_user_clicks",
    "common_neighbors_copurchase",
    # round-8 additions: the semi-orientation wedge expansion scoring
    # EXISTING edges (same cap contract as the link predictors), the
    # 2-iteration bipartite HITS (two key-partitioned join+agg rounds
    # over the incidence), and the in-row skip-gram pair expansion
    # (claim: per-row work len*window, shuffle only at the count)
    "edge_jaccard_copurchase",
    "hits_parts_customers",
    "skipgram_pmi_docs",
    # late round-8: the bucketed interval-overlap join — the claim is
    # that the bucket equi-join + overlap-start dedup keeps the pair
    # relation linear in overlapping pairs at 10x sessions
    "session_error_overlap_events",
    # round-9 additions: the winnowing posting-list pair join (in-row
    # window-min fingerprints, max_df hot-key guard — claim: posting
    # volume ~2/(w+1) of full shingling and pair work bounded by the
    # cap), the vocabulary-grain AQE-sized df join + per-doc top-k
    # window, and the (label, pos)-keyed integer centroid sums
    "winnow_pairs_docs",
    "doc_keywords_docs",
    "label_coherence_embed",
    # round-10 additions: the AUTO-sized IVF (claim under measurement:
    # nlist tracks ~sqrt(n), so at 10x corpus the cell count grows
    # ~3.2x instead of staying pinned — the fixed-nlist silent-
    # degradation mode the auto default exists to close; VERDICT r09
    # #5's SCALETEST evidence), the ER golden-record election (unpivot
    # + counted-grain top-1 windows at volume), the hapax vocabulary
    # census (the (group, token)-grain combine is the only corpus-
    # sized exchange), and the blocking-volume pre-flight (size-grain
    # reduce over the winnow postings)
    "ann_ivf_auto_topk",
    "golden_record_docs",
    "hapax_by_source_docs",
    "block_volume_winnow_docs",
    # round-11 additions (VERDICT r10 #3): the two bench heavies that
    # carried NO isolated min-of-3 row — every co-run blip on them was
    # an argument instead of a lookup. pipeline_training_corpus is the
    # r10 "weak" (driver 1.86->4.58 s on a plan untouched since r07);
    # cluster_purity_docs drifted 2.82->4.89 driver with no alibi.
    "pipeline_training_corpus",
    "cluster_purity_docs",
    # round-11 (VERDICT r10 #5): the PRODUCTION auto-IVF configuration
    # (nlist="auto", bounded nprobe=8) — the bounded-probe cost curve
    # at 1x/10x next to ann_ivf_auto_topk's exact nprobe="all" row
    "ann_ivf_auto_recall",
]

# dev-loop subset knob: SPARK_GRAFT_SMOKE_ONLY=a,b,c measures just those
# queries (new-operator iteration without re-timing the whole set).
# Subset runs must name an EXPLICIT output path (never the default
# artifact the budget gate reads) and are stamped __meta__["subset"],
# which scale_budget refuses as a baseline/new artifact — a 1-query
# dev run can therefore never silently shrink gate coverage.
_only = os.environ.get("SPARK_GRAFT_SMOKE_ONLY")
SUBSET = bool(_only)
if _only:
    if len(sys.argv) < 2:
        raise SystemExit(
            "SPARK_GRAFT_SMOKE_ONLY requires an explicit out.json "
            "argument — refusing to overwrite the default artifact "
            "with a subset"
        )
    _keep = {q.strip() for q in _only.split(",") if q.strip()}
    _unknown = _keep - set(QUERIES)
    if _unknown:
        raise SystemExit(f"SPARK_GRAFT_SMOKE_ONLY unknown: {sorted(_unknown)}")
    QUERIES = [q for q in QUERIES if q in _keep]

STREAMING = {"streaming_dedup_events", "streaming_hist_rollup"}

TABLES_NEEDED = [
    "documents", "embeddings", "events", "orders", "customer",
    "lineitem", "supplier",
]


def synth(spark, k_replicas: int) -> str:
    """K key-offset, content-distinct replicas of the needed tables."""
    from pyspark.sql import functions as F

    from pyspark_datacol_diff_spark.sources import read_parquet_table

    d = tempfile.mkdtemp(prefix=f"dcd_scale_{k_replicas}x_")
    for t in TABLES_NEEDED:
        # read_parquet_table, not a bare spark.read: it carries the
        # TIMESTAMP(NANOS) guard the events table may need
        src = read_parquet_table(spark, BASE, t)
        parts = []
        for k in range(k_replicas):
            rep = src
            if t == "documents":
                off = F.lit(k * 10_000_000)
                rep = rep.withColumn("doc_id", F.col("doc_id") + off)
                if k > 0:
                    suffixed = F.concat_ws(
                        " ",
                        F.transform(
                            F.split(F.col("text"), r"\s+"),
                            lambda x: F.concat(x, F.lit(f"_r{k}")),
                        ),
                    )
                    rep = rep.withColumn("text", suffixed)
            elif t == "embeddings":
                rep = rep.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(k * 10_000_000)
                )
                if k > 0:
                    rot = F.concat(
                        F.slice(F.col("embedding"), k + 1, 4096),
                        F.slice(F.col("embedding"), 1, k),
                    )
                    rep = rep.withColumn("embedding", rot)
            elif t == "events":
                rep = rep.withColumn(
                    "event_id", F.col("event_id") + F.lit(k * 100_000_000)
                ).withColumn("user_id", F.col("user_id") + F.lit(k * 10_000_000))
            elif t == "orders":
                rep = rep.withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(k * 100_000_000)
                ).withColumn(
                    "o_custkey", F.col("o_custkey") + F.lit(k * 10_000_000)
                )
            elif t == "customer":
                rep = rep.withColumn(
                    "c_custkey", F.col("c_custkey") + F.lit(k * 10_000_000)
                )
            elif t == "lineitem":
                # suppkey offset keeps the supplier FK consistent with
                # the replicated supplier table below, so the bloom
                # semi join's match rate is scale-invariant. partkey is
                # ALSO offset (round-7 fix): without it every replica
                # repeats the same part baskets, the co-purchase pair
                # counts multiply by k, and nearly all ~1.2M raw pairs
                # cross the n_orders >= 2 threshold — the "10x" graph
                # the kcore/khop/pagerank smoke ran on was actually
                # 335x (3.5k -> 1.2M edges), which is what their
                # 3.0-3.4 ratios were really measuring. Replica-
                # distinct keys are the documented convention for
                # every other table (suffixed doc text, rotated
                # embeddings, offset users).
                rep = (
                    rep.withColumn(
                        "l_orderkey",
                        F.col("l_orderkey") + F.lit(k * 100_000_000),
                    )
                    .withColumn(
                        "l_suppkey",
                        F.col("l_suppkey") + F.lit(k * 10_000_000),
                    )
                    .withColumn(
                        "l_partkey",
                        F.col("l_partkey") + F.lit(k * 10_000_000),
                    )
                )
            elif t == "supplier":
                rep = rep.withColumn(
                    "s_suppkey", F.col("s_suppkey") + F.lit(k * 10_000_000)
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    return d


def run(spark, qs, sf_dir: str) -> tuple[dict, dict, dict]:
    """Per-query timing with FULL state isolation between queries:
    clearCache drops Dataset caches, free_persistent_rdds drops
    localCheckpoint block sets (invisible to clearCache). Without the
    latter, iterative operators' retained results accumulate across
    the co-run and the later 10x queries measure GC pressure instead
    of their plan — the round-4 dedup_cluster_docs artifact read
    33 s co-run vs 14.5 s isolated for the identical plan."""
    from pyspark_datacol_diff_spark import quiesce_session
    from pyspark_datacol_diff_spark import streaming as STR

    def quiesce():
        # shared measurement-isolation recipe (session.quiesce_session:
        # clearCache + checkpoint-block release + full GC); a per-query
        # fresh JVM would be cleaner still, but costs ~10 s startup x
        # 2 scales x every query
        quiesce_session(spark)

    # min of RUNS timed executions: individual runs on this box carry
    # sporadic ~2x spikes (measured: the same triangle_counts plan,
    # same process, back to back: 4.1 / 4.2 / 8.1 / 3.9 s — GC time
    # flat at ~120 ms, so the spikes are JIT-compilation bursts /
    # scheduler interference, not the plan). The MIN is the intrinsic
    # plan cost — the right numerator and denominator for a SCALING
    # ratio; all samples are recorded alongside for transparency.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_SMOKE_RUNS", "3")))
    times: dict[str, float] = {}
    samples: dict[str, list] = {}
    state_rows: dict[str, int] = {}
    for name in QUERIES:
        fn = qs[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        quiesce()
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            quiesce()
        times[name] = min(ts)
        samples[name] = ts
        if name in STREAMING:
            # end-of-replay state-store rows across stateful operators
            # of whatever query name the entry registered last
            for prog in STR.LAST_PROGRESS.values():
                ops = prog.get("stateOperators") or []
                n = sum(int(o.get("numRowsTotal", 0)) for o in ops)
                state_rows[name] = max(state_rows.get(name, 0), n)
            STR.LAST_PROGRESS.clear()
    return times, samples, state_rows


def main() -> None:
    import __spark_entry__ as entry
    from pyspark_datacol_diff_spark import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="scale-smoke", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    qs = entry.queries()
    d1 = synth(spark, 1)
    dk = synth(spark, K)
    try:
        t1, r1, s1 = run(spark, qs, d1)
        tk, rk, sk = run(spark, qs, dk)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(dk, ignore_errors=True)
    report = {
        q: {
            "t_1x_sec": t1[q],
            f"t_{K}x_sec": tk[q],
            "ratio": round(tk[q] / t1[q], 2) if t1[q] else None,
            "runs_1x": r1[q],
            f"runs_{K}x": rk[q],
        }
        for q in QUERIES
    }
    for q in STREAMING:
        if q in s1:
            report[q]["state_rows_1x"] = s1[q]
        if q in sk:
            report[q][f"state_rows_{K}x"] = sk[q]
        if s1.get(q) and sk.get(q) is not None:
            report[q]["state_ratio"] = round(sk[q] / s1[q], 2)
    report["__meta__"] = {
        "replicas": K,
        "base": BASE,
        "cpus": cpus,
        # drift canary (VERDICT r08 #7): a deliberately boring,
        # never-edited plan timed in every run; scale_budget divides
        # cross-round ratios by this query's own cross-round ratio, so
        # a box-epoch slowdown (r08 burned four full smoke runs
        # adjudicating one by hand) no longer churns the fail set. If
        # two_stage_agg_events' plan is ever edited, re-designate.
        "canary": "two_stage_agg_events",
        **({"subset": sorted(QUERIES)} if SUBSET else {}),
        "notes": {
            "ann_topk_cosine": (
                "declared exact baseline, O(n*q): the query set is a "
                "fixed FRACTION of the corpus (vec_id % 25 == 0), so "
                f"{K}x data means {K}x queries x {K}x corpus = "
                f"{K * K}x work — a ratio near {K * K}/parallel-slack "
                "is the CONTRACT; the scale path (ann_ivf_topk) bounds "
                "probed cells instead"
            ),
            "hard_negatives_embed": (
                "same declared O(n*q) exact-baseline contract as "
                "ann_topk_cosine (query set is the same fixed corpus "
                f"fraction, so {K * K}x work at {K}x data); the "
                "label-inequality predicate prunes pairs but not "
                "asymptotics — the IVF cell machinery is the scale path"
            ),
            "ann_ivf_auto_topk": (
                "the nlist='auto' scaling default under measurement "
                "(VERDICT r09 #5): cells = max(16, isqrt(n)), so at "
                f"{K}x corpus the cell count grows ~sqrt({K})x instead "
                "of staying pinned; the query set is the same fixed "
                "corpus fraction as ann_topk_cosine and nprobe='all' "
                "keeps it exact, so work is bounded by the probed-cell "
                "volume, not O(n*q) brute force"
            ),
            "ratios_below_replicas": (
                "ratios under the replica count mean fixed per-job "
                "overhead still dominates at this volume — the plan is "
                "shuffle-linear with headroom"
            ),
            "isolation": (
                "round-5 harness change: clearCache + "
                "free_persistent_rdds + System.gc() between every "
                "query, so localCheckpoint block sets and lazily-"
                "reclaimed heap garbage no longer bleed across the "
                "co-run — the round-4 dedup_cluster_docs/"
                "ngram_jaccard_docs 10x regressions were this harness "
                "pollution (33 s co-run vs 14.5 s isolated, identical "
                "plan), not plan regressions"
            ),
            "min_of_runs": (
                "t_* = MIN over the per-query timed runs (runs_* lists "
                "every sample): individual runs carry sporadic ~2x "
                "JIT/scheduler spikes with flat GC time, and the min "
                "is the intrinsic plan cost a scaling ratio should "
                "compare"
            ),
            "streaming_state": (
                "state_rows_* = end-of-replay state-store rows "
                "(stateOperators numRowsTotal); a watermark-bounded "
                f"design must grow ~{K}x (with keys), never "
                "super-linearly with cumulative input"
            ),
        },
    }
    with open(OUT, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({q: report[q]["ratio"] for q in QUERIES}))


if __name__ == "__main__":
    main()
