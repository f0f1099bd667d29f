"""Connected-components tests: hand graphs, randomized union-find
cross-check, and the end-to-end near-dup survivor drop."""

import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_datacol_diff_spark.operators.cluster import (
    connected_components,
    drop_near_dups,
    near_dup_victims,
)


def _comps(df):
    return {r["node"]: r["comp"] for r in df.collect()}


def test_two_components_and_chain(spark):
    # component {1,2,3} as a path (diameter 2) + component {10, 11}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = _comps(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_path_converges(spark):
    # path 0-1-2-...-9: worst-case diameter for propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    got = _comps(connected_components(edges))
    assert got == {i: 0 for i in range(10)}


def test_max_iter_exceeded_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError):
        connected_components(edges, max_iter=2)


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per root
    roots = {}
    for n in nodes:
        roots.setdefault(find(n), []).append(n)
    return {n: min(members) for r, members in roots.items() for n in members}


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(13)
    edges = list(
        {
            tuple(sorted(rng.sample(range(60), 2)))
            for _ in range(70)
        }
    )
    nodes = sorted({n for e in edges for n in e})
    expect = _union_find(edges, nodes)
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    assert _comps(connected_components(df)) == expect


def test_drop_near_dups_keeps_min_survivor(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 3), (3, 5)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"] for r in drop_near_dups(docs, pairs, "doc_id").collect()
    )
    # component {1,3,5} -> survivor 1; 0,2,4 untouched
    assert kept == [0, 1, 2, 4]
    victims = sorted(r["node"] for r in near_dup_victims(pairs).collect())
    assert victims == [3, 5]


def test_cc_handles_high_diameter_paths(spark):
    # a 120-node path: diameter 119 — plain propagation would need 119
    # rounds; the hook and jump steps converge in 7
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], ["id_a", "id_b"]
    )
    stats = {}
    got = _comps(connected_components(edges, stats=stats))
    assert got == {i: 0 for i in range(120)}
    assert stats["rounds"] == 7


def test_cc_two_node_and_triangle(spark):
    edges = spark.createDataFrame(
        [(5, 9), (1, 2), (2, 3), (1, 3)], ["id_a", "id_b"]
    )
    got = _comps(connected_components(edges))
    assert got == {5: 5, 9: 5, 1: 1, 2: 1, 3: 1}


def test_cc_null_ids(spark):
    """A NULL id never equi-joins, so it links no components: it takes
    the min of its neighbors' labels and feeds no other node."""
    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (5, 6), (7, 8), (None, None)],
        "id_a long, id_b long",
    )
    got = _comps(connected_components(edges))
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 7: 7, 8: 7, None: 1}
    # a NULL node whose only edges are NULL–NULL still gets its row
    lone = spark.createDataFrame([(1, 2), (None, None)], "id_a long, id_b long")
    assert _comps(connected_components(lone)) == {1: 1, 2: 1, None: None}


def _permuted_path(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


@st.composite
def _graphs(draw):
    """Random edges over a small id space, plus (sometimes) a path
    through 40-300 permuted ids that shares ids with them."""
    n = draw(st.integers(min_value=2, max_value=60))
    node = st.integers(min_value=0, max_value=n - 1)
    edges = draw(st.lists(st.tuples(node, node), min_size=1, max_size=80))
    path_len = draw(st.sampled_from([0, 0, 40, 150, 300]))
    ids = draw(st.permutations(range(path_len)))
    return edges + list(zip(ids, ids[1:]))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)
@given(edges=_graphs())
# long permuted-id paths: plain propagation exceeds max_iter=25 on these
@example(edges=_permuted_path(300, seed=1))
@example(edges=_permuted_path(40, seed=2) + [(7, 7), (50, 51)])
@example(edges=[(i + 1, i) for i in range(150)])
def test_cc_matches_union_find_property(spark, edges):
    nodes = sorted({x for e in edges for x in e})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    assert _comps(connected_components(df)) == _union_find(edges, nodes)


def test_pagerank_authority_ordering_and_determinism(spark):
    from pyspark_datacol_diff_spark.operators.cluster import pagerank_exact

    # star: everyone links to 'hub'; hub must outrank all, and two runs
    # (different partitioning) agree bit for bit. 30 rounds cross 10
    # rank checkpoints. The hub<->n0 cycle oscillates with period 2 and
    # the amplitude decays as 0.85^2 per round, so the fixpoint ordering
    # (hub ~4.2 > n0 ~3.7, in units of scale) needs the transient gone,
    # not just a few rounds
    edges = [(f"n{i}", "hub") for i in range(8)] + [("hub", "n0")]
    e = spark.createDataFrame(edges, "src string, dst string")
    r1 = {
        x["node"]: x["rank"]
        for x in pagerank_exact(e, iterations=30).collect()
    }
    r2 = {
        x["node"]: x["rank"]
        for x in pagerank_exact(e.repartition(7), iterations=30).collect()
    }
    assert max(r1, key=r1.get) == "hub"
    assert r1["hub"] > r1["n0"] > r1["n1"]  # n0 gets hub's mass too
    assert r1 == r2


def test_round_count_pin_dense_cluster(spark):
    """The round-4 performance contract (VERDICT r3 #5): at 100 TB each
    propagation round is a cluster-wide shuffle, so the count is pinned.
    A dense cluster (the near-dup workload shape) must converge in ONE
    round thanks to the fused neighborhood-min init — the previous
    identity-label init needed two. (Job count is not pinned: AQE
    legitimately splits one action into a job per shuffle stage; the
    shuffle-round count is the stable scale contract.)"""
    # clique {1,2,3,4} + pair {8,9}: neighborhood-min init already labels
    # every node with its component min; round 1 only confirms.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (8, 9)],
        ["id_a", "id_b"],
    )
    stats = {}
    got = _comps(connected_components(edges, stats=stats))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}
    assert stats["rounds"] == 1


def test_round_count_on_path(spark):
    # path 0-1-2-3: init labels (0,0,1,2); round 1 propagates (0,0,0,1)
    # and hooks 2's new min onto node 1, so node 3's jump through 1
    # reaches 0; round 2 confirms
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], ["id_a", "id_b"]
    )
    stats = {}
    got = _comps(connected_components(edges, stats=stats))
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}
    assert stats["rounds"] == 2


def test_triangle_counts_hand_graphs(spark):
    from pyspark_datacol_diff_spark.operators.cluster import triangle_counts

    # K4 on {1,2,3,4}: 4 triangles, each node in exactly 3; plus a
    # triangle-free path {10,11,12} and an isolated edge {20,21}
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(10, 11), (11, 12), (20, 21)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["n_tri"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_matches_brute_force_random(spark):
    from itertools import combinations

    from pyspark_datacol_diff_spark.operators.cluster import triangle_counts

    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(30), 2))) for _ in range(80)})
    es = set(edges)
    expect = {}
    for a, b, c in combinations(range(30), 3):
        if ((a, b) in es) and ((b, c) in es) and ((a, c) in es):
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == expect


def test_triangle_counts_duplicate_and_reversed_edges(spark):
    from pyspark_datacol_diff_spark.operators.cluster import triangle_counts

    # the same triangle given redundantly (dup + reversed) counts once
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (1, 2)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["n_tri"] for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_drop_near_dups_priority_keeps_best(spark):
    from pyspark_datacol_diff_spark.operators.cluster import drop_near_dups

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (9, 1)],
        "doc_id long, quality long",
    )
    # component {1,2,3}: best quality 50 held by 2 and 3 -> tie to min id 2
    # component {4}: alone in no pair -> kept; 9: not in graph -> kept
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in drop_near_dups(
            docs, pairs, "doc_id", priority_col="quality"
        ).collect()
    )
    assert kept == [2, 4, 9]
    # default policy keeps min id instead
    kept_min = sorted(
        r["doc_id"] for r in drop_near_dups(docs, pairs, "doc_id").collect()
    )
    assert kept_min == [1, 4, 9]


def test_cc_releases_round_state(spark):
    """Round-5 storage contract: connected_components frees retired
    rounds' checkpoint blocks and the edge frame — after consuming the
    result, the only surviving persistent RDD is the returned label
    frame (peak storage independent of round count)."""
    from pyspark_datacol_diff_spark import free_persistent_rdds
    from pyspark_datacol_diff_spark.operators.cluster import (
        connected_components,
    )

    free_persistent_rdds(spark)  # clean slate
    # path 0..6: several propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"]
    )
    stats = {}
    out = connected_components(edges, stats=stats)
    assert out.count() == 7
    assert stats["rounds"] >= 2
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    # exactly the final label frame's block set may remain
    assert len(jmap) <= 1, f"leaked {len(jmap)} persistent RDDs"
    assert free_persistent_rdds(spark) == len(jmap)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_cc_string_ids(spark):
    """Round-5: string node ids work end to end (the convergence
    witness never casts labels to decimal)."""
    from pyspark_datacol_diff_spark.operators.cluster import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    want = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert _comps(connected_components(edges)) == want


def test_pagerank_exact_hand_computed_chain(spark):
    """a -> b -> c, one iteration from uniform 1_000_000 at 85/100:
    rank(no-in) = 150000; rank(one uniform in-contrib) =
    150000 + (85 * 1_000_000) div 100 = 1_000_000."""
    from pyspark_datacol_diff_spark.operators.cluster import pagerank_exact

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    r = {x["node"]: x["rank"] for x in pagerank_exact(e, iterations=1).collect()}
    assert r == {"a": 150000, "b": 1_000_000, "c": 1_000_000}


def test_pagerank_exact_bitwise_partition_invariance(spark):
    """The operator's reason to exist: integer sums are exact and
    associative, so two partitionings agree BIT-FOR-BIT (== on longs,
    no tolerance) and match a pure-Python replay of the recursion."""
    import random as _rnd

    from pyspark_datacol_diff_spark.operators.cluster import pagerank_exact

    _rnd.seed(41)
    edges = sorted(
        {(_rnd.randint(0, 39), _rnd.randint(0, 39)) for _ in range(200)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {x["node"]: x["rank"] for x in pagerank_exact(e, iterations=3).collect()}
    got7 = {
        x["node"]: x["rank"]
        for x in pagerank_exact(e.repartition(7), iterations=3).collect()
    }

    deg: dict = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    nodes = {x for ed in edges for x in ed}
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(3):
        inc: dict = {}
        for a, b in edges:
            inc[b] = inc.get(b, 0) + rank[a] // deg[a]
        rank = {n: 150000 + (85 * inc.get(n, 0)) // 100 for n in nodes}
    assert got == rank
    assert got7 == rank


def test_pagerank_exact_validation(spark):
    from pyspark_datacol_diff_spark.operators.cluster import pagerank_exact

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="iterations"):
        pagerank_exact(e, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank_exact(e, damping_num=100, damping_den=100)
    with pytest.raises(ValueError, match="scale"):
        pagerank_exact(e, scale=10, damping_den=100)


class TestPersonalizedPagerank:
    """Round-6: seed-gated exact-integer PageRank."""

    def test_seed_proximity_and_unreachable_zero(self, spark):
        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.cluster import (
            pagerank_exact,
        )

        # component A: 1 -> 2 -> 3 (seeded at 1); component B: 10 <-> 11
        # (no seeds) — B must end at exactly 0 mass
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)],
            "src long, dst long",
        )
        got = {
            r["node"]: r["rank"]
            for r in pagerank_exact(
                edges, iterations=3, seed_pred=lambda n: n == F.lit(1)
            ).collect()
        }
        assert got[10] == 0 and got[11] == 0
        assert got[1] > 0 and got[2] > 0 and got[3] > 0
        # pure-python replay of the seeded integer recursion
        nodes = [1, 2, 3, 10, 11]
        out = {1: [2], 2: [3], 3: [1], 10: [11], 11: [10]}
        rank = {n: 1_000_000 if n == 1 else 0 for n in nodes}
        for _ in range(3):
            inc = {n: 0 for n in nodes}
            for s, ds in out.items():
                for d in ds:
                    inc[d] += rank[s] // len(ds)
            rank = {
                n: (150_000 if n == 1 else 0) + (85 * inc[n]) // 100
                for n in nodes
            }
        assert got == rank


class TestKcorePeel:
    """Round-6: bounded-round k-core peeling."""

    def test_converged_peel_matches_python_fixpoint(self, spark):
        import random

        from pyspark_datacol_diff_spark.operators.cluster import kcore_peel

        random.seed(5)
        edges = {(random.randrange(30), random.randrange(30))
                 for _ in range(70)}
        edges = {(a, b) for a, b in edges if a != b}
        canon = {(min(a, b), max(a, b)) for a, b in edges}

        def py_kcore(k, rounds):
            es = set(canon)
            for _ in range(rounds):
                deg = {}
                for a, b in es:
                    deg[a] = deg.get(a, 0) + 1
                    deg[b] = deg.get(b, 0) + 1
                keep = {n for n, d in deg.items() if d >= k}
                es = {(a, b) for a, b in es if a in keep and b in keep}
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            return deg

        df = spark.createDataFrame(sorted(canon), "src long, dst long")
        for k, rounds in ((2, 8), (3, 8), (4, 8)):
            got = {
                r["node"]: r["degree"]
                for r in kcore_peel(df, k=k, rounds=rounds).collect()
            }
            assert got == py_kcore(k, rounds), (k, rounds)
        # fewer rounds = superset of more rounds (monotone shrink)
        few = {r["node"] for r in kcore_peel(df, k=3, rounds=1).collect()}
        many = {r["node"] for r in kcore_peel(df, k=3, rounds=8).collect()}
        assert many <= few

    def test_multiedges_and_selfloops_canonicalized(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import kcore_peel

        df = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3), (1, 3)],
            "src long, dst long",
        )
        got = {
            r["node"]: r["degree"]
            for r in kcore_peel(df, k=2, rounds=2).collect()
        }
        assert got == {1: 2, 2: 2, 3: 2}  # multi-edge counts once

    def test_validation(self, spark):
        import pytest as _pt

        from pyspark_datacol_diff_spark.operators.cluster import kcore_peel

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with _pt.raises(ValueError, match="k >= 1"):
            kcore_peel(df, k=0)


class TestKhopReachable:
    """Round-6: bounded-hop BFS frontier expansion."""

    def test_min_hop_labels_and_python_bfs(self, spark):
        import random

        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.cluster import (
            khop_reachable,
        )

        random.seed(9)
        edges = {(random.randrange(25), random.randrange(25))
                 for _ in range(60)}
        edges = {(a, b) for a, b in edges if a != b}
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {
            r["node"]: r["hop"]
            for r in khop_reachable(
                df, lambda n: n % 7 == 0, hops=3
            ).collect()
        }
        # python BFS over the same directed graph
        nodes = {n for e in edges for n in e}
        seeds = {n for n in nodes if n % 7 == 0}
        dist = {n: 0 for n in seeds}
        frontier = set(seeds)
        for h in (1, 2, 3):
            nxt = {
                b for a, b in edges if a in frontier and b not in dist
            }
            for n in nxt:
                dist[n] = h
            frontier = nxt
        assert got == dist

    def test_hops_validation(self, spark):
        import pytest as _pt

        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.cluster import (
            khop_reachable,
        )

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with _pt.raises(ValueError, match="hops"):
            khop_reachable(df, lambda n: n == F.lit(1), hops=0)


class TestWeightedPagerank:
    """Round-6: edge-weighted exact-integer PageRank."""

    def test_weighted_matches_python_and_guards(self, spark):
        import pytest as _pt
        from pyspark.sql import functions as F

        from pyspark_datacol_diff_spark.operators.cluster import (
            pagerank_exact,
        )

        edges = spark.createDataFrame(
            [(1, 2, 9), (1, 3, 1), (3, 1, 2), (2, 1, 5)],
            "src long, dst long, w long",
        )
        got = {
            r["node"]: r["rank"]
            for r in pagerank_exact(
                edges, iterations=2, weight_col="w"
            ).collect()
        }
        rank = {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}
        out = {1: [(2, 9), (3, 1)], 3: [(1, 2)], 2: [(1, 5)]}
        W = {s: sum(w for _, w in ds) for s, ds in out.items()}
        for _ in range(2):
            inc = {n: 0 for n in rank}
            for s, ds in out.items():
                for d, w in ds:
                    inc[d] += (rank[s] * w) // W[s]
            rank = {n: 150_000 + (85 * inc[n]) // 100 for n in rank}
        assert got == rank
        # heavier edge pulls more authority than the uniform walk
        uniform = {
            r["node"]: r["rank"]
            for r in pagerank_exact(edges, iterations=2).collect()
        }
        assert got[2] > uniform[2]
        bad = spark.createDataFrame(
            [(1, 2, 0)], "src long, dst long, w long"
        )
        with _pt.raises(Exception, match="positive"):
            pagerank_exact(bad, iterations=1, weight_col="w").collect()


class TestLabelPropagation:
    """Round-7: bounded-round clamped majority-vote label spread."""

    def test_hand_computed_votes_and_clamping(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            label_propagation,
        )

        # 1 and 2 are seeds (labels 10, 20); 3 hears both (tie ->
        # smaller label); 4 hears 3 only in round 2; seed 2 also hears
        # 1 but must stay clamped at its own label
        edges = spark.createDataFrame(
            [(1, 3), (2, 3), (1, 2), (3, 4)], "src long, dst long"
        )
        seeds = spark.createDataFrame(
            [(1, 10), (2, 20)], "node long, label long"
        )
        got = {
            r["node"]: (r["label"], r["round"])
            for r in label_propagation(edges, seeds, rounds=2).collect()
        }
        assert got == {
            1: (10, 0),
            2: (20, 0),   # clamped: the 1->2 edge must not relabel it
            3: (10, 1),   # tie 10 vs 20 -> smallest
            4: (10, 2),   # second round via 3
        }

    def test_majority_beats_tiebreak(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            label_propagation,
        )

        edges = spark.createDataFrame(
            [(1, 9), (2, 9), (3, 9)], "src long, dst long"
        )
        seeds = spark.createDataFrame(
            [(1, 50), (2, 50), (3, 7)], "node long, label long"
        )
        got = {
            r["node"]: r["label"]
            for r in label_propagation(edges, seeds, rounds=1).collect()
        }
        assert got[9] == 50  # 2 votes beat the smaller label's 1


class TestCommonNeighborCandidates:
    """Round-7: common-neighbor link prediction with degree cap."""

    def test_hand_computed_counts_and_topk(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            common_neighbor_candidates,
        )

        # square 1-2-3-4 (cycle): each diagonal pair (1,3) and (2,4)
        # shares exactly its two cycle neighbors; adjacent pairs are
        # excluded by the anti join
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (1, 4)], "src long, dst long"
        )
        got = {
            (r["node"], r["candidate"]): (r["common_cnt"], r["rank"])
            for r in common_neighbor_candidates(edges, k=5).collect()
        }
        assert got == {
            (1, 3): (2, 1), (3, 1): (2, 1),
            (2, 4): (2, 1), (4, 2): (2, 1),
        }

    def test_degree_cap_bounds_and_biases_deterministically(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            common_neighbor_candidates,
        )

        # hub 0 connected to 1..6: every spoke pair shares {0}
        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 7)], "src long, dst long"
        )
        full = common_neighbor_candidates(edges, k=10).collect()
        assert {r["common_cnt"] for r in full} == {1}
        assert len(full) == 30  # 15 spoke pairs, both orientations
        # cap=3 keeps only the hub's 3 smallest neighbors -> C(3,2)
        capped = common_neighbor_candidates(
            edges, k=10, max_degree=3
        ).collect()
        assert len(capped) == 6  # 3 pairs x 2 orientations
        nodes = {r["node"] for r in capped}
        assert nodes == {1, 2, 3}

    def test_common_neighbor_validation(self, spark):
        import pytest as _pt

        from pyspark_datacol_diff_spark.operators.cluster import (
            common_neighbor_candidates,
        )

        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        with _pt.raises(ValueError, match="k must"):
            common_neighbor_candidates(edges, k=0)
        with _pt.raises(ValueError, match="max_degree"):
            common_neighbor_candidates(edges, k=1, max_degree=1)


class TestResourceAllocation:
    """r08: degree-discounted link prediction (exact-ppm RA index)."""

    def test_hand_graph(self, spark):
        from pyspark_datacol_diff_spark.operators.cluster import (
            resource_allocation_candidates,
        )

        # path graph 1-2-3 plus 2-4: non-adjacent pairs through center 2
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (2, 4)], "src long, dst long"
        )
        got = {
            (r["node"], r["candidate"]): (r["ra_ppm"], r["common_cnt"])
            for r in resource_allocation_candidates(edges, k=5).collect()
        }
        # deg(2) = 3 -> each wedge through 2 scores 1_000_000 DIV 3
        w = 1_000_000 // 3
        assert got[(1, 3)] == (w, 1)
        assert got[(3, 1)] == (w, 1)
        assert got[(1, 4)] == (w, 1)
        assert got[(3, 4)] == (w, 1)
        # adjacent pairs are never candidates
        assert (1, 2) not in got and (2, 3) not in got

    def test_hub_discount_orders_below_rare_center(self, spark):
        """The point of RA over common-neighbor counting: one shared
        RARE center outranks one shared HUB center."""
        from pyspark_datacol_diff_spark.operators.cluster import (
            resource_allocation_candidates,
        )

        # hub h connects to 1..5; rare r connects only to 1 and 9
        edges = [(h, i) for h, i in [(100, 1), (100, 2), (100, 3),
                                     (100, 4), (100, 5)]]
        edges += [(200, 1), (200, 9)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["node"], r["candidate"]): r["ra_ppm"]
            for r in resource_allocation_candidates(df, k=10).collect()
        }
        # (1, 9) share rare center 200 (deg 2); (1, 2) share hub 100 (deg 5)
        assert got[(1, 9)] == 1_000_000 // 2
        assert got[(1, 2)] == 1_000_000 // 5
        assert got[(1, 9)] > got[(1, 2)]

    def test_full_degree_discount_under_cap(self, spark):
        """max_degree slices the wedge expansion but the discount uses
        the center's FULL degree — a capped hub still discounts as the
        hub it is."""
        from pyspark_datacol_diff_spark.operators.cluster import (
            resource_allocation_candidates,
        )

        edges = [(100, i) for i in range(1, 6)]  # hub of degree 5
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["node"], r["candidate"]): r["ra_ppm"]
            for r in resource_allocation_candidates(
                df, k=10, max_degree=3
            ).collect()
        }
        # only wedges among the 3 smallest neighbors survive the cap,
        # but each still scores DIV 5, not DIV 3
        assert got[(1, 2)] == 1_000_000 // 5
        assert (1, 4) not in got and (4, 5) not in got
