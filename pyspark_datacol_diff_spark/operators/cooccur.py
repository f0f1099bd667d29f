"""Co-occurrence statistics: which items appear together inside a group
— the feature-engineering primitive behind PMI scores, item2vec-style
shifted-PMI matrices, market-basket lift, and tag-affinity features.

Reference scope note: the reference library computes no aggregate
beyond its diff summary (``/root/reference/find_datacol_diff.py``);
this is a north-star extension in the training-pipeline family, sibling
to the basket-explode co-purchase miner.

The engine emits EXACT INTEGER sufficient statistics
``(n_ab, n_a, n_b, n_groups)`` and leaves the floating ratio to the
caller: ``pmi = ln(n_ab * N / (n_a * n_b))``, ``lift``, ``jaccard``,
and the word2vec-equivalent shifted PPMI are all derivable, and the
integers replay bit-identically in any engine (the same
exact-moments-first discipline as the trend/Gram operators).

Scale notes (100 TB):

- presence is deduplicated FIRST (``distinct`` on (group, item)) so a
  group contributing an item a million times still contributes one
  presence row — the pair join's per-group work is bounded by the
  distinct-item count squared, not event counts;
- the pair generation is a self equi-join on the group key with an
  item-order predicate (each unordered pair once) — no cross product;
  a group with k distinct items yields k(k-1)/2 pairs, so callers
  should cap or filter pathological groups upstream (the same
  ``max_df``-style guard the n-gram pair miner exposes);
- marginals are item-grain and equi-JOINED onto the pair aggregate —
  deliberately not a window (a hot item's pairs would funnel into one
  partition) and not a re-join against presence rows; the join is not
  hint-forced to broadcast because the item domain's cardinality is
  the caller's data (AQE broadcasts small domains at runtime, large
  ones shuffle instead of OOMing every executor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import PPM, suffix_pairs


def cooccurrence_stats(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Exact co-occurrence counts for every unordered item pair that
    shares at least one group. Returns
    ``(item_a, item_b, n_ab, n_a, n_b, n_groups)`` with
    ``item_a < item_b``; ``n_a``/``n_b`` are the items' group
    frequencies and ``n_groups`` the total distinct-group count —
    everything a PMI/lift/affinity score needs, all integers.
    """
    pres = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    a = pres.select("g", F.col("item").alias("item_a"))
    b = pres.select("g", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "g")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    marg = pres.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    totals = pres.select(
        F.count_distinct(F.col("g")).alias("n_groups")
    )
    # marginals are ITEM-grain — bounded for a parts catalog, unbounded
    # for generic item domains — so the joins are deliberately NOT
    # hint-forced broadcasts: AQE picks broadcast from measured sizes
    # when the item domain is small and shuffles otherwise (the
    # quantile_rank totals-join convention). The scalar group total
    # stays a broadcast: 1 row by construction.
    return (
        pairs.join(
            marg.select(F.col("item").alias("item_a"), F.col("n").alias("n_a")),
            "item_a",
        )
        .join(
            marg.select(F.col("item").alias("item_b"), F.col("n").alias("n_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(totals))
        .select("item_a", "item_b", "n_ab", "n_a", "n_b", "n_groups")
    )


def basket_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    min_count: int = 2,
    cap: int | None = None,
    count_col: str = "n_groups",
) -> DataFrame:
    """Market-basket PAIR mining with the hot-basket cap — the public
    face of the co-purchase substrate the graph family (pagerank,
    k-core, k-hop, label propagation, link prediction) builds on.

    Scalable shape is basket-explode, NOT a fact self-join: each group
    reduces to its sorted distinct item array (ONE group-keyed shuffle
    — ``collect_set`` deduplicates per group with map-side partial
    sets), ordered pairs (i < j) stream out of
    :func:`~pyspark_datacol_diff_spark.operators.suffix_pairs` (no
    per-basket d(d-1)/2 pair array), and pair counts hash-aggregate on
    the pair key. The basket frame is repartitioned to
    ``defaultParallelism`` before the explode: AQE coalesces the
    basket aggregate's output by its BYTE size, blind to the ~50x row
    amplification of the pair expansion that follows — one cheap
    shuffle of the small basket relation buys full-width parallelism
    for the quadratic stage.

    ``cap`` bounds per-basket work on hot baskets: only each group's
    ``cap`` smallest item ids enter the pair expansion, so per-row
    cost is min(s, cap)^2 and a mega-basket cannot dominate a task.
    BIAS CONTRACT: pairs containing only items beyond a group's first
    ``cap`` (ascending item order) are undercounted — deterministic,
    and replayable in SQL as a rank <= cap predicate. Real power-law
    basket tables (web sessions, user histories) should always set it.

    Returns ``(p1, p2, <count_col>)`` with ``p1 < p2``.

    Reference scope note: north-star extension — the reference library
    has no aggregation beyond its diff summary
    (``/root/reference/find_datacol_diff.py``).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if cap is not None and cap < 2:
        raise ValueError(f"cap must be >= 2 to form any pair, got {cap}")
    s = F.array_sort(F.collect_set(item_col))
    if cap is not None:
        s = F.slice(s, 1, cap)
    baskets = df.groupBy(group_col).agg(s.alias("s"))
    baskets = baskets.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return (
        suffix_pairs(baskets, "s")
        .groupBy(F.col("a").alias("p1"), F.col("b").alias("p2"))
        .agg(F.count(F.lit(1)).alias(count_col))
        .filter(F.col(count_col) >= min_count)
    )


def basket_triples(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    min_count: int = 2,
    cap: int | None = 5,
    count_col: str = "n_groups",
) -> DataFrame:
    """Frequent ITEMSET mining one level deeper than
    :func:`basket_pairs`: item triples co-occurring in >= ``min_count``
    groups, enumerated inside each (capped) basket. Per-basket work is
    C(min(s, cap), 3) — cubic in basket size, which is why ``cap``
    DEFAULTS ON here (5 -> at most 10 triples per basket); pass
    ``cap=None`` only for basket tables with a hard small-basket bound
    (TPC-H orders carry <= 7 lines). Same basket-explode shape and
    bias contract as the pair miner.

    Returns ``(p1, p2, p3, <count_col>)`` with ``p1 < p2 < p3``.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if cap is not None and cap < 3:
        raise ValueError(f"cap must be >= 3 to form any triple, got {cap}")
    s = F.array_sort(F.collect_set(item_col))
    if cap is not None:
        s = F.slice(s, 1, cap)
    baskets = df.groupBy(group_col).agg(s.alias("s"))
    baskets = baskets.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(flatten(transform(s, (x, i) -> "
                    "transform(slice(s, i + 2, size(s)), (y, j) -> "
                    "transform(slice(s, i + j + 3, size(s)), "
                    "z -> struct(x AS p1, y AS p2, z AS p3))))))"
                )
            ).alias("tr")
        )
        .select("tr.p1", "tr.p2", "tr.p3")
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias(count_col))
        .filter(F.col(count_col) >= min_count)
    )


def symmetric_edges(
    pairs: DataFrame,
    *,
    p1_col: str = "p1",
    p2_col: str = "p2",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_cols: list[str] | None = None,
) -> DataFrame:
    """Symmetrize an undirected pair relation (p1 < p2) into the
    directed ``(src, dst[, weights...])`` edge list the graph
    operators (pagerank_exact, kcore_peel, khop_reachable,
    label_propagation) consume — each pair emitted in both
    orientations via one EXPLODE of a two-struct array (a narrow
    flatmap, no shuffle). An explode references the pair relation
    once; the previous two-arm union referenced it twice, and the
    planner reuses no subtree, so every downstream materialization
    (pagerank's persisted edge frame, khop's, the k-core init
    checkpoint) executed the whole upstream pair-mining pipeline
    twice (measured r11).

    The same doubling runs inside the operators: ``kcore_peel``'s
    degree frame and the link scorers' neighbour lists
    (``cluster._neighbor_lists``) double the canonical edge set, the
    link predictors emit both orientations of each candidate pair, and
    :func:`association_rules` both directed rules of each basket
    pair."""
    both = F.explode(
        F.array(
            F.struct(
                F.col(p1_col).alias(src_col), F.col(p2_col).alias(dst_col)
            ),
            F.struct(
                F.col(p2_col).alias(src_col), F.col(p1_col).alias(dst_col)
            ),
        )
    ).alias("__sym")
    keep = [F.col(w) for w in weight_cols or []]
    # getField access (ADVICE r11): a dotted string path mis-parses
    # src/dst names containing dots or backtick-worthy characters
    return pairs.select(both, *keep).select(
        F.col("__sym").getField(src_col).alias(src_col),
        F.col("__sym").getField(dst_col).alias(dst_col),
        *(weight_cols or []),
    )


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    min_count: int = 2,
    cap: int | None = None,
) -> DataFrame:
    """ASSOCIATION RULES from the basket-pair relation, scored in
    exact integers: every surviving pair (a, b) emits both directed
    rules with ``confidence_ppm = n_ab * PPM DIV n_ante``
    (P(consequent | antecedent), truncating) and
    ``lift_ppm = n_ab * n_groups * PPM DIV (n_ante * n_cons)``
    (confidence over the consequent's base rate; > PPM means
    positive association) — the market-basket recommendation score
    with none of float normalization's engine drift. Lift's
    numerator/denominator are computed in DECIMAL(38,0) (128-bit) so
    ``n_ab * N * scale`` cannot overflow at warehouse-scale basket
    counts; the emitted ppm is cast back to BIGINT.

    Support counts ride :func:`basket_pairs` (same ``min_count`` /
    hot-basket ``cap`` contract — NOTE: under a cap the PAIR counts
    are cap-biased while the item marginals stay exact, so confidence
    is a lower bound on hot baskets); marginals are one item-grain
    aggregate equi-joined onto the pair relation (AQE-chosen strategy,
    never a forced broadcast of an unbounded item domain and never a
    window over the pairs) and the basket total one scalar broadcast.

    Returns ``(antecedent, consequent, n_ab, n_ante, n_cons,
    confidence_ppm, lift_ppm)``.
    """
    pairs = basket_pairs(
        df, group_col, item_col, min_count=min_count, cap=cap,
        count_col="n_ab",
    )
    pres = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    marg = pres.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    totals = pres.select(F.count_distinct("g").alias("n_groups"))
    both = symmetric_edges(
        pairs, src_col="antecedent", dst_col="consequent",
        weight_cols=["n_ab"],
    )
    # item-grain marginals: no forced broadcast (unbounded for generic
    # item domains — AQE picks the strategy from measured sizes; see
    # cooccurrence_stats). The scalar basket total stays broadcast.
    scored = (
        both.join(
            marg.select(
                F.col("item").alias("antecedent"),
                F.col("n_item").alias("n_ante"),
            ),
            "antecedent",
        )
        .join(
            marg.select(
                F.col("item").alias("consequent"),
                F.col("n_item").alias("n_cons"),
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(totals))
    )
    conf = F.expr(f"n_ab * {PPM}L DIV n_ante")
    # DECIMAL(38,0) DIV truncates the 128-bit quotient exactly (same
    # semantics as DuckDB HUGEINT //) — NOT decimal `/`, whose
    # scale-rounded quotient can round x.9999995 up before a floor
    lift = F.expr(
        f"CAST(n_ab AS DECIMAL(38,0)) * n_groups * {PPM} DIV "
        "(CAST(n_ante AS DECIMAL(38,0)) * n_cons)"
    )
    return scored.select(
        "antecedent",
        "consequent",
        "n_ab",
        "n_ante",
        "n_cons",
        conf.alias("confidence_ppm"),
        lift.cast("long").alias("lift_ppm"),
    )
