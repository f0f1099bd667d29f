"""Dedup-operator tests on constructed corpora with known duplicate
structure (exact groups, near-dups with hand-computable Jaccard)."""

import itertools
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_datacol_diff_spark.operators import dedup as DD
from pyspark_datacol_diff_spark.operators import suffix_pairs


def corpus(spark):
    """10 docs: 0/1 identical; 2/3 near-identical (one word changed);
    4..9 distinct filler."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),
        (2, base.replace("dog", "cat")),
        (3, base),
        (4, "completely different text about spark engines and columnar scans"),
        (5, "another unrelated document mentioning joins and shuffles only"),
        (6, "data pipelines require deduplication at scale for training corpora"),
        (7, "short text"),
        (8, "yet more filler content with no overlap whatsoever here friends"),
        (9, "final document in the tiny corpus used for dedup testing okay"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dup_groups(spark):
    df = corpus(spark)
    groups = DD.exact_dup_groups(df, F.md5("text"), "doc_id").collect()
    by_cnt = sorted((r["cnt"], r["rep_id"]) for r in groups)
    assert by_cnt[-1] == (3, 0)  # docs 0,1,3 identical, rep = min id
    assert sum(c for c, _ in by_cnt) == 10


def test_drop_exact_dups_deterministic_survivor(spark):
    df = corpus(spark)
    kept = DD.drop_exact_dups(df, F.md5("text"), "doc_id")
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids and 3 not in ids
    assert kept.count() == 8


def test_word_ngrams(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["id", "text"])
    grams = df.select(DD.word_ngrams("text", 2).alias("g")).collect()[0]["g"]
    assert sorted(grams) == ["a b", "b c", "c d"]
    short = spark.createDataFrame([(1, "one")], ["id", "text"])
    assert short.select(DD.word_ngrams("text", 2).alias("g")).collect()[0]["g"] == []


def test_ngram_jaccard_pairs(spark):
    df = corpus(spark)
    pairs = DD.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # identical docs pairwise jaccard 1.0
    assert got[(0, 1)] == 1.0 and got[(0, 3)] == 1.0 and got[(1, 3)] == 1.0
    # one-word-changed doc 2: high but < 1 vs 0/1/3
    assert 0.5 <= got[(0, 2)] < 1.0
    # no cross-filler pairs
    assert all(a <= 3 and b <= 3 for a, b in got)


def test_ngram_jaccard_rejects_bad_width_and_threshold(spark):
    """A gram width below 1 used to mine unigram pairs (docs "a b c" /
    "c b a" paired at n=0) and a threshold above 1 silently returned no
    pairs; both now raise like prefix_jaccard_pairs. 0 stays valid:
    ngram_containment_pairs mines at threshold 0."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    for n in (0, -1):
        with pytest.raises(ValueError, match="n must be"):
            DD.ngram_jaccard_pairs(df, "doc_id", "text", n=n)
    for t in (1.5, -0.1):
        with pytest.raises(ValueError, match="threshold"):
            DD.ngram_jaccard_pairs(df, "doc_id", "text", threshold=t)
    assert DD.ngram_jaccard_pairs(
        df, "doc_id", "text", n=1, threshold=0.0
    ).count() == 1


_sorted_lists = st.lists(
    st.integers(-40, 40), unique=True, max_size=7
).map(sorted)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(lists=st.lists(_sorted_lists, min_size=1, max_size=5))
@example(lists=[[], [7], [1, 2], [-3, 0, 4, 9]])
def test_suffix_pairs_are_the_combinations(spark, lists):
    """suffix_pairs yields exactly itertools.combinations(lst, 2) per
    row, as a multiset, with the carried columns unchanged."""
    rows = [(i, f"t{i % 2}", lst) for i, lst in enumerate(lists)]
    df = spark.createDataFrame(rows, "rid long, tag string, arr array<long>")
    got = Counter(
        tuple(r) for r in suffix_pairs(df, "arr", "rid", "tag").collect()
    )
    want = Counter(
        (rid, tag, a, b)
        for rid, tag, lst in rows
        for a, b in itertools.combinations(lst, 2)
    )
    assert got == want


def test_minhash_estimates_track_exact_jaccard(spark):
    df = corpus(spark)
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in DD.minhash_near_dup_pairs(
            df, "doc_id", "text", n=3, bands=32, jaccard_threshold=0.3
        ).collect()
    }
    assert est[(0, 1)] == 1.0 and est[(0, 3)] == 1.0
    assert (0, 2) in est and 0.3 <= est[(0, 2)] <= 1.0
    assert all(a <= 3 and b <= 3 for a, b in est)


def test_minhash_signatures_shape(spark):
    df = corpus(spark)
    sigs = DD.minhash_signatures(df, "doc_id", "text", n=3, num_hashes=16)
    row = sigs.filter(F.col("doc_id") == 0).collect()[0]
    assert len(row["sig"]) == 16
    # identical docs -> identical signatures
    other = sigs.filter(F.col("doc_id") == 1).collect()[0]
    assert row["sig"] == other["sig"]


def test_simhash_near_dups(spark):
    df = corpus(spark)
    fps = {
        r["doc_id"]: r["fp"]
        for r in DD.simhash_fingerprints(df, "doc_id", "text", n=3).collect()
    }
    assert fps[0] == fps[1] == fps[3]  # identical docs, identical fp
    # near-dup doc 2 lands measurably closer than any filler doc
    d02 = bin(fps[0] ^ fps[2]).count("1")
    filler_min = min(
        bin(fps[0] ^ fps[i]).count("1") for i in (4, 5, 6, 8, 9)
    )
    assert d02 < filler_min
    # banding guarantees recall only for hamming <= bands-1; identical
    # docs (hamming 0) must always be found
    pairs = DD.simhash_near_dups(df, "doc_id", "text", n=3, max_hamming=16)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 1)] == 0 and got[(0, 3)] == 0 and got[(1, 3)] == 0


def test_minhash_lsh_ml_variant(spark):
    df = corpus(spark)
    pairs = DD.minhash_lsh_pairs(df, "doc_id", "text", n=3, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(0, 1), (0, 3), (1, 3)} <= got


def test_minhash_md5_matches_hand_replay(spark):
    import hashlib

    from pyspark_datacol_diff_spark.operators import dedup as DD

    df = spark.createDataFrame([(1, "alpha beta gamma delta")], ["doc_id", "text"])
    sig = DD.minhash_signatures(
        df, "doc_id", "text", n=3, num_hashes=4
    ).collect()[0]["sig"]
    # replay by hand: 2 shingles, md5-first-8-hex gram hash, seeded coeffs
    coeffs = DD.minhash_coefficients(4)
    grams = ["alpha beta gamma", "beta gamma delta"]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    want = [min((a * h + b) % DD._MH_PRIME for h in hs) for a, b in coeffs]
    assert sig == want


def test_simhash_md5_matches_hand_vote(spark):
    import hashlib

    from pyspark_datacol_diff_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    fp = DD.simhash_fingerprints(df, "doc_id", "text", n=3).collect()[0]["fp"]
    grams = ["alpha beta gamma", "beta gamma delta", "gamma delta epsilon"]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    want = 0
    for i in range(32):
        if 2 * sum((h >> i) & 1 for h in hs) >= len(hs):
            want |= 1 << i
    assert fp == want


def test_simhash_band_bits_must_divide_fingerprint(spark):
    """A band wider than the 32-bit fingerprint used to give zero bands,
    so even identical documents were never paired; it now raises, like
    srp_near_dup_pairs (the two share one band join)."""
    import pytest

    df = corpus(spark)
    for bad in (64, 12, 0):
        with pytest.raises(ValueError, match="band_bits"):
            DD.simhash_near_dups(df, "doc_id", "text", band_bits=bad)


def test_incremental_new_filters_store_and_batch_dups(spark):
    from pyspark_datacol_diff_spark.operators.dedup import incremental_new

    incoming = spark.createDataFrame(
        [(1, "aa"), (3, "bb"), (5, "aa"), (7, "cc")], ["doc_id", "text"]
    )
    store = spark.createDataFrame([("bb",), ("zz",)], ["t"]).select(
        F.md5("t").alias("fp")
    )
    out = incremental_new(
        incoming, store, "doc_id", F.md5("text"), key_name="fp"
    )
    got = sorted((r["doc_id"], r["text"]) for r in out.collect())
    # 'bb' known in store; duplicate 'aa' keeps lowest id only
    assert got == [(1, "aa"), (7, "cc")]


def test_incremental_new_is_idempotent_on_replay(spark):
    from pyspark_datacol_diff_spark.operators.dedup import incremental_new

    incoming = spark.createDataFrame(
        [(10, "x"), (11, "x"), (12, "y")], ["doc_id", "text"]
    )
    store = spark.createDataFrame([("none",)], ["t"]).select(
        F.md5("t").alias("fp")
    )
    a = incremental_new(incoming, store, "doc_id", F.md5("text"), key_name="fp")
    b = incremental_new(incoming, store, "doc_id", F.md5("text"), key_name="fp")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ngram_containment_catches_truncated_copy(spark):
    """Round-6: a snippet wholly contained in a much longer doc has
    tiny Jaccard (invisible to resemblance dedup) but containment 1.0
    — the operator's reason to exist. Exact integer threshold."""
    from pyspark_datacol_diff_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(200)]
    long_doc = " ".join(words)
    snippet = " ".join(words[:20])          # fully contained prefix
    other = " ".join(f"x{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, long_doc), (2, snippet), (3, other)],
        "doc_id long, text string",
    )
    cont = {
        (r["id_a"], r["id_b"])
        for r in ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold_num=4, threshold_den=5
        ).collect()
    }
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert (1, 2) in cont          # snippet contained in long doc
    assert (1, 2) not in jac       # jaccard ~= 18/198, misses it
    assert not any(3 in p for p in cont)
    import pytest
    with pytest.raises(ValueError, match="num"):
        ngram_containment_pairs(
            df, "doc_id", "text", threshold_num=0, threshold_den=5
        )


class TestPrefixJaccard:
    """Round-7: AllPairs/PPJoin prefix-filtered exact set similarity."""

    def test_matches_brute_force_full_universe(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import (
            prefix_jaccard_pairs,
        )

        docs = [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),      # high overlap with 1
            (3, "p q r s t u v w"),
            (4, "p q r s t u v w"),      # exact dup of 3
            (5, "a b c p q r"),          # mixed, low overlap
            (6, "zz"),                   # too short for 3-grams
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for thr in (0.5, 0.8):
            got = {
                (r["id_a"], r["id_b"]): (
                    r["inter_cnt"], r["size_a"], r["size_b"]
                )
                for r in prefix_jaccard_pairs(
                    df, "doc_id", "text", n=3, threshold=thr
                ).collect()
            }
            # brute force in python
            def grams(t):
                ws = t.split()
                return {
                    " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
                }

            want = {}
            gs = {i: grams(t) for i, t in docs}
            for i in gs:
                for j in gs:
                    if i < j and gs[i] and gs[j]:
                        inter = len(gs[i] & gs[j])
                        union = len(gs[i] | gs[j])
                        if union and inter / union >= thr:
                            want[(i, j)] = (
                                inter, len(gs[i]), len(gs[j])
                            )
            assert got == want and len(want) > 0

    def test_threshold_validation(self, spark):
        from pyspark_datacol_diff_spark.operators.dedup import (
            prefix_jaccard_pairs,
        )

        import pytest as _pytest

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="threshold"):
            prefix_jaccard_pairs(df, "doc_id", "text", threshold=0.0)
        with _pytest.raises(ValueError, match="threshold"):
            prefix_jaccard_pairs(df, "doc_id", "text", threshold=1.5)
