"""Connected-components clustering — turn near-dup PAIRS into near-dup
GROUPS with a deterministic survivor per group.

Reference scope note: the reference library has no graph/clustering
operator of any kind (its one join is the diff's full-outer equi-join,
``/root/reference/find_datacol_diff.py:96``); this is a north-star
extension. Every pair-producing dedup operator in this engine
(``ngram_jaccard_pairs``, ``minhash_near_dup_pairs``,
``simhash_near_dups``, ``lsh_near_dup_pairs``, ``cosine_pairs``) emits
edges of a similarity graph; an actual dedup must then KEEP ONE document
per connected component. This module is that final step.

Algorithm: min-label propagation with hooking and pointer jumping
(Hash-to-Min style; Rastogi et al., "Finding Connected Components in
Map-Reduce in Logarithmic Rounds", ICDE 2013). Every node's label is a
node id of its own component and only ever decreases; the fixpoint
labels every node with the min node id of its component. Each round
propagates labels over edges, hooks each node's new minimum onto the
node its old label names, and jumps each label one step up its label
tree. Propagation alone needs one round per hop of graph diameter;
with the hook and the jump, chains converge in a logarithmic number of
rounds while dense near-duplicate clusters still converge in one. One
operator covers both the dense clusters of the dedup workload and
chain-like pair graphs (weak-threshold LSH candidates).

Scale notes (100 TB):

- each round is node-keyed joins and aggregates over id-only frames —
  all AQE-planned; a hot component (one label seen by millions of
  edges) is a skewed join key and AQE's skew-join split handles it;
- the label frame is one row per node (ids only, bytes per row), NOT
  per document — the document payload is joined back exactly once at
  the end (``drop_near_dups``);
- iterative DataFrame loops must TRUNCATE LINEAGE each round
  (``localCheckpoint``), not merely ``persist``: a persisted round-k
  frame is re-planned inside round k+1's join, where self-join
  attribute deduplication rewrites the embedded subtree so it no
  longer matches the cache entry — measured: per-round time DOUBLES
  every round (full-chain recompute) under persist chaining, with or
  without unpersist, while checkpointed rounds stay flat;
- checkpointed round state must also be RELEASED: localCheckpoint
  blocks are invisible to ``spark.catalog.clearCache()`` and have no
  DataFrame-level handle, so a long session (or a multi-query
  harness) otherwise accumulates every round of every run — exactly
  the storage leak the round-4 10x smoke measured (33 s co-run vs
  14.5 s isolated for the same plan). Each round therefore frees its
  retired checkpoint RDDs through their JVM handles
  (:func:`_free_ckpt`) the moment the new round is materialized, and
  the edge frame is freed on return, so peak executor storage does not
  grow with the round count;
- the per-round convergence probe is a count of changed labels,
  computed by the same action that materializes the round, so the
  fixpoint is detected with no frame-vs-frame anti-join and no extra
  action, for any orderable id type (string ids included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import PPM, suffix_pairs
from .cooccur import symmetric_edges


def _free_ckpt(df: DataFrame) -> None:
    """Release the block set behind a ``localCheckpoint``-ed frame.

    The checkpointed frame's analyzed plan is a ``LogicalRDD`` leaf;
    its underlying RDD is the persisted block set, reachable only
    through the JVM handle (no DataFrame-level API, and
    ``clearCache`` does not see checkpoint storage). Unpersisting is
    safe ONLY for frames that will never be read again — a local
    checkpoint has no lineage to recompute from — which is exactly
    the retired-round case in the iterative loops below. Best-effort:
    a non-classic session (Connect) or an unexpected plan shape
    degrades to the old leak-until-context-death behavior, never to
    an error."""
    try:
        _squelch_ckpt_warns(df.sparkSession)
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


_ckpt_warns_squelched = False


def _squelch_ckpt_warns(spark) -> None:
    """Silence the per-release 'RDD was locally checkpointed ... cannot
    be recomputed after unpersisting' WARN: for retired rounds that is
    the INTENDED contract, and the loops below would otherwise emit it
    once per round per run. One-time, best-effort, scoped to the
    CONCRETE RDD classes that emit that message (a checkpointed
    DataFrame's internal RDD is a MapPartitionsRDD / shuffle-row RDD) —
    deliberately NOT the whole org.apache.spark.rdd or storage
    categories, so memory-pressure and cache-eviction warnings from
    MemoryStore/BlockManager stay visible."""
    global _ckpt_warns_squelched
    if _ckpt_warns_squelched:
        return
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.rdd.MapPartitionsRDD",
            "org.apache.spark.sql.execution.ShuffledRowRDD",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
        _ckpt_warns_squelched = True
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the min
    node id reachable from it. Returns ``(node, comp)`` — one row per
    node that appears in at least one edge (singletons, by definition,
    never appear in a pair list and are trivially their own component).

    Labels start at each node's neighborhood min (the identity-label
    round fused into initialization). Each round then runs three
    node-keyed steps — propagate, hook, jump (Hash-to-Min style;
    Rastogi et al., ICDE 2013):

    - propagate: ``q(v) = min(label(u) for u in N(v) ∪ {v})`` — one
      join of the edge frame against the labels and one aggregate;
    - hook: each node also sends ``q(v)`` to the node its old label
      names, so ``c(n) = min(q(n), q(v) for v with label(v) = n)`` —
      one aggregate over an explode of the propagate output;
    - jump: ``label(n) = min(c(n), c(c(n)))`` — one self-join of the
      hook frame.

    Labels only decrease and always name a node of the same component,
    so a round in which no label changes is a fixpoint of propagation,
    and the labels are the component minima. Propagation alone needs
    one round per hop of graph diameter. The jump alone barely helps on
    chains: it shortcuts paths inside each label tree but never merges
    two trees. The hook merges them. Round counts, propagation vs
    this body: a 120-node path 119 vs 7, a 300-node path with permuted
    ids 271 vs 7, the 4-node path 3 vs 2. A dense cluster still takes
    ONE round, which here pays one join and one checkpoint more than
    propagation alone.

    Convergence witness: the self-loop row (s == d) in node d's
    propagate group carries d's previous label, so the round's own
    action (the collect that materializes its ``localCheckpoint``)
    counts the non-NULL nodes whose label moved — exact, type-agnostic,
    no cross-round hash compare. A NULL node id never equi-joins: it is
    labeled with the min of its neighbors' labels (NULL when its only
    edges are NULL–NULL, which reach the propagate aggregate through a
    union branch); its own old label is NULL so it hooks only to itself,
    and it feeds no other node. Once no non-NULL
    label moves, its label was computed from final labels.
    With AQE on, every shuffle stage is submitted as its own Spark job,
    so the job count per round is not fixed; the round count is the
    scale contract.

    Storage: the previous round's label blocks and the round's hook
    blocks are released (:func:`_free_ckpt`) the moment the new round is
    materialized, and the edge blocks on return — peak executor storage
    is 2 label frames + 1 hook frame + 1 edge frame, independent of
    round count. The RETURNED frame's blocks stay live (a local
    checkpoint cannot be recomputed); they are one (node, comp) id pair
    per node — release via ``_free_ckpt`` after the last read if the
    session is long-lived.

    Pass ``stats={}`` to receive ``stats["rounds"]`` — the number of
    rounds executed (pinned by tests/test_cluster.py; at 100 TB each
    round is a few cluster-wide shuffles, so the count is a first-class
    performance contract).

    Raises ``RuntimeError`` if the fixpoint isn't reached in
    ``max_iter`` rounds.
    """
    # doubled edge set WITH self-loops: N+(v) = N(v) ∪ {v}. The
    # self-loops make propagation a single join→groupBy that reads the
    # label frame exactly once and carries each node's previous label.
    pe = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        pe.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("s"), F.col("b").alias("d")),
                    F.struct(F.col("b").alias("s"), F.col("a").alias("d")),
                    F.struct(F.col("a").alias("s"), F.col("a").alias("d")),
                    F.struct(F.col("b").alias("s"), F.col("b").alias("d")),
                )
            ).alias("x")
        )
        .select("x.s", "x.d")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # init = one propagation step from identity labels. Every node
    # appears as `s` in e, so the node set is preserved.
    # NOT checkpointed: the init frame is consumed exactly once (round
    # 1's join inlines it). The `e` checkpoint above is what truncates
    # the expensive upstream.
    labels = (
        e.groupBy("s")
        .agg(F.min("d").alias("comp"))
        .select(F.col("s").alias("node"), "comp")
    )
    try:
        changed_cnt = F.count(
            F.when(
                F.col("node").isNotNull()
                & ~F.col("comp").eqNullSafe(F.col("__old")),
                True,
            )
        )
        # NULL–NULL rows never equi-join, yet a NULL node whose only
        # edges they are needs one to keep its `d = NULL` group. A union
        # branch, not a LEFT join: an outer join cannot broadcast its
        # preserved side, and on non-nullable ids the optimizer drops
        # the branch, so the plan is the inner join's.
        null_rows = e.filter(F.col("s").isNull() & F.col("d").isNull())
        null_rows = null_rows.select("s", "d", F.lit(None).alias("comp"))
        for rounds in range(1, max_iter + 1):
            prop = (
                e.join(labels, e["s"] == labels["node"])
                .select(e["s"], e["d"], "comp")
                .unionByName(null_rows)
                .groupBy("d")
                .agg(
                    F.min("comp").alias("q"),
                    F.min(
                        F.when(F.col("s") == F.col("d"), F.col("comp"))
                    ).alias("old"),
                )
            )
            # checkpointed because the jump reads it twice
            hook = (
                prop.select(
                    F.explode(
                        F.array(
                            F.struct(F.col("d").alias("n"), "q", "old"),
                            F.struct(
                                F.col("old").alias("n"),
                                "q",
                                F.lit(None).alias("old"),
                            ),
                        )
                    ).alias("x")
                )
                .groupBy("x.n")
                .agg(F.min("x.q").alias("c"), F.min("x.old").alias("old"))
                .localCheckpoint(eager=False)
            )
            parent = hook.select(
                F.col("n").alias("__p"), F.col("c").alias("__pc")
            )
            new_labels = (
                hook.join(parent, F.col("c") == F.col("__p"), "left")
                .select(
                    F.col("n").alias("node"),
                    F.least("c", "__pc").alias("comp"),
                    F.col("old").alias("__old"),
                )
                .localCheckpoint(eager=False)
            )
            # this collect materializes the round's checkpoints (and, in
            # round 1, `e` and the init labels)
            n_changed = new_labels.agg(changed_cnt).collect()[0][0]
            _free_ckpt(labels)  # retired round: never read again
            _free_ckpt(hook)
            labels = new_labels
            if n_changed == 0:
                if stats is not None:
                    stats["rounds"] = rounds
                return labels.select("node", "comp")
        _free_ckpt(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        _free_ckpt(e)


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (lo, hi) form, self-loops
    dropped, deduped."""
    lo, hi = F.least("s", "d"), F.greatest("s", "d")
    return (
        e.select(lo.alias("s"), hi.alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )


def near_dup_victims(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Ids to DROP from a corpus given near-dup pairs: every member of a
    connected component except its min-id survivor. Returns ``(node)``."""
    comps = connected_components(pairs, src, dst)
    return comps.filter(F.col("node") != F.col("comp")).select("node")


def drop_near_dups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    priority_col: str | None = None,
) -> DataFrame:
    """Deduplicated corpus: keep every row except non-survivor members
    of near-dup components. Default survivor = min id per component
    (the same deterministic-survivor rule as ``drop_exact_dups``); with
    ``priority_col`` the survivor is the component member with the
    HIGHEST priority (ties -> smallest id) — the keep-best policy
    (keep the longest / highest-quality copy, not an arbitrary one).

    The victim anti-join is NOT hint-forced to broadcast: victims are
    id-only rows but their COUNT scales with the corpus's duplication
    rate (a 30-50%-duplicated web crawl has a data-sized victim list),
    so AQE picks broadcast from the measured size when the list is
    small and a shuffled anti-join otherwise. The
    priority variant additionally joins the component relation (node
    grain, pair-graph-sized — far smaller than the corpus) against the
    corpus's (id, priority) projection to elect survivors with one
    ``max_by`` aggregate per component.
    """
    if priority_col is None:
        victims = near_dup_victims(pairs, src, dst)
    else:
        comps = connected_components(pairs, src, dst)
        pri = df.select(
            F.col(id_col).alias("node"), F.col(priority_col).alias("__p")
        )
        m = comps.join(pri, "node")
        # survivor = highest priority, min-id ties — elected in two
        # steps (max priority per component, then min node at that
        # priority) rather than max_by over struct(__p, -node): node
        # negation restricted ids to numeric types, while min/max
        # order any orderable id type (strings included). eqNullSafe
        # keeps a survivor even when every member's priority is null.
        best = m.groupBy("comp").agg(F.max("__p").alias("__bp"))
        surv = (
            m.join(best, "comp")
            .filter(F.col("__p").eqNullSafe(F.col("__bp")))
            .groupBy("comp")
            .agg(F.min("node").alias("__keep"))
        )
        victims = (
            m.join(surv, "comp")
            .filter(F.col("node") != F.col("__keep"))
            .select("node")
        )
    return df.join(
        victims,
        df[id_col] == victims["node"],
        "left_anti",
    )


# pagerank_exact checkpoints its rank frame after every this-many rounds
# and after the last (see its docstring for the measurements)
_PAGERANK_CKPT_EVERY = 3


def pagerank_exact(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    seed_pred=None,
    weight_col: str | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in SCALED INTEGER arithmetic over a
    directed edge list — the authority score for link graphs (document
    citation/link dedup prioritization, crawl frontier ordering). Ranks
    are longs in units of ``1/PPM`` (every node starts at ``PPM``); each
    round every node sends ``rank div out_degree`` (integer division) to
    each out-neighbor and receives ``(PPM * (damping_den - damping_num)) div
    damping_den + (damping_num * incoming_sum) div damping_den``.

    Integer arithmetic makes the result deterministic: float per-node
    sums run in nondeterministic partition order, so their low bits
    vary run-to-run. Integer addition is exact and associative, and
    both divisions here have non-negative operands (trunc == floor), so
    the ranks are bit-for-bit identical across partitionings and
    engines: the same unrolled iterations in ANSI SQL reproduce them
    hash-exactly. The cost is quantization — each hop truncates up to
    ``out_degree - 1 + damping_den - 1`` rank units, so the result
    tracks the float recursion to ~1e-6 relative error per hop.

    Dangling nodes (no out-edges) keep receiving mass but their own
    mass is DISCARDED each round — the classic simplified Spark
    PageRank, not the mass-conserving formulation that redistributes
    the dangling sum uniformly. Total mass is not conserved, scores
    differ from true PageRank, and rank ORDER is not in general
    preserved either (nodes fed mainly by dangling neighbors are
    under-weighted relative to true PageRank). The trade buys one
    fewer global aggregate + broadcast per round.

    ``seed_pred`` (a callable ``node Column -> boolean Column``) turns
    this into PERSONALIZED PageRank: initial mass and the per-round
    reset land ONLY on nodes satisfying the predicate (NULL counts as
    non-seed), so ranks measure proximity to the seed set — the
    seed-relevance ordering (crawl frontiers, seed-document expansion
    in a training-data pipeline) rather than global authority. Same
    dataflow, same exact-integer replayability; the predicate itself
    must be engine-portable for the oracle to unroll it.

    ``weight_col`` makes the walk EDGE-WEIGHTED: each edge receives
    ``(rank * w) div W_out`` instead of ``rank div out_degree`` (W_out
    = the source's total outgoing weight) — co-occurrence counts,
    similarity scores (pre-quantized to ints), link multiplicities.
    Weights must be POSITIVE integers (a plan-side guard raises on
    NULL/non-positive); overflow bound tightens to ``max_rank *
    max_weight < 2^63`` — weights into the tens of
    thousands on million-node graphs.

    ``symmetric=True`` asserts that every edge appears in both
    directions, so the distinct sources are the node set.

    Each round is two shuffles: the ranks-x-edges join keyed on src,
    then a dst-keyed sum. Rank frames are eagerly ``localCheckpoint``-ed
    after every 3rd round and after the last (lineage truncation — see
    the module docstring; the last round must be materialized because
    the ``finally`` unpersists the shared edge/node frames), retired
    rank frames are freed via :func:`_free_ckpt`, and the reused
    node/edge frames are persisted and released in ``finally``, so a
    failed iteration (executor loss, skew OOM) leaves no blocks pinned.
    An eager checkpoint is a full job, so short loops want few of them:
    the 3-round co-purchase loop runs as ONE job over 6 chained
    shuffles (measured 6.1 -> 4.7 s at sf0.1 against a checkpoint every
    round). Long loops still need the lineage cut. Ranks are identical
    for every schedule; wall time at 10 / 30 rounds on a random
    300-node, 1.6k-edge graph (local[4] on 4 cores, median of 3 warm
    calls) was 2.54 / 6.06 s checkpointing every round, 1.92 / 5.50 s
    every 3rd round, and 3.25 / 11.73 s checkpointing only the last.
    Overflow bound: ``damping_num * total_mass`` must fit in int64,
    i.e. ``node_count * PPM * damping_num < 2^63`` — ~10^11 nodes, far
    past any dedup pair graph.

    Returns ``(node, rank)`` with ``rank`` long — one row per node
    appearing anywhere in the edge list.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0 < damping_num < damping_den):
        raise ValueError(
            f"need 0 < damping_num < damping_den, got "
            f"{damping_num}/{damping_den}"
        )
    if PPM < damping_den:
        raise ValueError(
            f"damping_den must be <= PPM ({PPM}), got {damping_den}"
        )
    reset = (PPM * (damping_den - damping_num)) // damping_den
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        # a non-positive, NULL, or fractional weight breaks the
        # rank-division semantics silently — fail loudly, plan-side
        # (the kmeans null-vector convention). The guard validates the
        # POST-cast value AND integrality: a weight in (0, 1) passes a
        # pre-cast `> 0` check yet truncates to 0, giving deg=0 and a
        # DIVIDE_BY_ZERO (ANSI) or silently dropped contributions.
        w_long = F.col(weight_col).cast("long")
        cols.append(
            F.when(
                (w_long >= 1)
                & (
                    w_long.cast("double")
                    == F.col(weight_col).cast("double")
                ),
                w_long,
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "pagerank weights must be positive integers, got "
                        ),
                        F.col(weight_col).cast("string"),
                    )
                )
            )
            .alias("w")
        )
    # The edge list is scanned several times before the loop starts
    # (node set, degree attachment), so it is persisted: an expensive
    # upstream (pair mining feeds this in the dedup pipelines) runs
    # once. It is hash-repartitioned by src BEFORE persisting: (a) the
    # degree aggregate and every round's ranks-x-edges join need src
    # partitioning — this shuffle is the one they would each have
    # paid anyway, paid once;
    # (b) upstream unions/explodes CONCATENATE partition lists (a
    # doubled co-purchase edge list arrived as 128 partitions of a
    # 7k-edge graph), and persist/localCheckpoint pin that count for
    # every round's stages — measured ~400 tasks/round of pure
    # scheduling. AQE can still coalesce this repartition's output
    # (REPARTITION_BY_COL allows coalescing), so tiny graphs collapse
    # to a handful of tasks while huge ones keep full width.
    e = edges.select(*cols).repartition("src").persist()
    if symmetric:
        # distinct sources ARE the node set — half the scan, one union
        # branch fewer
        nodes = e.select(F.col("src").alias("node")).distinct().persist()
    else:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
    # degree attachment is a map-side-combined groupBy(src) joined back:
    # both sides read the src-partitioned persisted `e` with no further
    # exchange, and every stage over the big side stays AQE-splittable
    # (a mega-hub never has to fit one window task). Measured 4.6 ->
    # 2.9 s on the sf0.1 co-purchase graph (iters=3) against a
    # `count() over partitionBy(src)` window.
    deg = F.sum("w") if weight_col is not None else F.count(F.lit(1))
    ew = e.join(e.groupBy("src").agg(deg.alias("deg")), "src").persist()
    contrib_expr = (
        "(rank * w) div deg" if weight_col is not None else "rank div deg"
    )
    try:
        if seed_pred is None:
            zeros = nodes.select(
                "node",
                F.lit(0).cast("long").alias("c"),
                F.lit(True).alias("__in_base"),
            )
            ranks = nodes.withColumn("rank", F.lit(PPM).cast("long"))
            reset_expr = f"{reset}L"
        else:
            seeded = nodes.withColumn("__seed", seed_pred(F.col("node")))
            zeros = seeded.select(
                "node",
                F.lit(0).cast("long").alias("c"),
                F.col("__seed").alias("__in_base"),
            )
            ranks = seeded.select(
                "node",
                F.when(F.col("__seed"), F.lit(PPM))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("rank"),
            )
            reset_expr = f"(CASE WHEN __seed THEN {reset}L ELSE 0L END)"
        prev = None
        for i in range(iterations):
            # shuffle_hash on the rank side: ew is persisted already
            # hash-partitioned on src, so a hash build from the
            # node-grain rank frame probes it with ZERO exchange or
            # sort of the edge list — sort-merge would re-sort the big
            # side every round.
            contribs = ew.join(
                ranks.hint("shuffle_hash"), ew["src"] == ranks["node"]
            ).select(
                F.col("dst").alias("node"),
                F.expr(contrib_expr).alias("c"),
                F.lit(None).cast("boolean").alias("__in_base"),
            )
            # union-then-aggregate instead of aggregate-then-left-join:
            # the zero-contribution row per node keeps every node in
            # the result AND carries the seed flag (max ignores the
            # contrib rows' NULLs), folding what was [groupBy + join
            # base] — two shuffles — into ONE node-keyed aggregate.
            merged = zeros.unionByName(contribs)
            agg_cols = [F.sum("c").alias("s")]
            if seed_pred is not None:
                agg_cols.append(F.max("__in_base").alias("__seed"))
            ranks = merged.groupBy("node").agg(*agg_cols).select(
                "node",
                F.expr(
                    f"{reset_expr} + ({damping_num}L * s) "
                    f"div {damping_den}L"
                ).alias("rank"),
            )
            if i == iterations - 1 or (i + 1) % _PAGERANK_CKPT_EVERY == 0:
                ranks = ranks.localCheckpoint(eager=True)
                if prev is not None:
                    _free_ckpt(prev)  # retired round: never read again
                prev = ranks
    finally:
        ew.unpersist()
        nodes.unpersist()
        e.unpersist()
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering signal (a node in many triangles sits in a tight
    near-dup/community cluster; triangle-free nodes are chain noise).
    Returns ``(node, n_tri)`` for every node in at least one triangle.

    Scale shape — degree-ordered orientation (the standard MapReduce
    triangle algorithm, Suri & Vassilvitskii WWW'11 "Counting triangles
    and the curse of the last reducer"): every undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher one,
    which makes the orientation acyclic AND bounds every node's
    out-degree by O(sqrt(m)). Wedges are generated by self-joining
    oriented edges on their source (per-node work = out_deg^2, so the
    sqrt(m) cap kills the "last reducer" hub blow-up a raw
    neighbor-join suffers), and each wedge closes into a triangle iff
    the oriented edge between its two endpoints exists — one further
    equi-join against the (compact, reused) oriented edge list. Every
    triangle is emitted exactly once (its vertices are totally ordered
    by (degree, id)). Three shuffles total on top of the degree
    computation; no cartesian anywhere.

    The canonical edge set and the oriented edge list are both consumed
    by multiple downstream joins, so each is checkpointed lazily —
    without that the upstream pair-mining pipeline would re-execute
    once per reference (measured 3x wall time on the n-gram pair
    graph); both materialize inside the caller's single action (an
    eager variant was measured 1.8x slower at 10x: the materialization
    job re-runs the upstream pipeline the final action would have run
    anyway). The blocks stay live after the action — release them with
    ``free_persistent_rdds`` in long-lived sessions.
    """
    e = _canonical(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    ).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("s").alias("n"))
        .union(e.select(F.col("d").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wd = (
        e.join(deg.select(F.col("n").alias("s"), F.col("deg").alias("ds")), "s")
        .join(deg.select(F.col("n").alias("d"), F.col("deg").alias("dd")), "d")
    )
    lt = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("s") < F.col("d"))
    )
    # oriented edge (u -> v) with v's (degree, id) kept for wedge ordering
    o = wd.select(
        F.when(lt, F.col("s")).otherwise(F.col("d")).alias("u"),
        F.when(lt, F.col("d")).otherwise(F.col("s")).alias("v"),
        F.when(lt, F.col("dd")).otherwise(F.col("ds")).alias("dv"),
    ).localCheckpoint(eager=False)
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(
        y,
        (F.col("x.u") == F.col("y.u"))
        & (
            (F.col("x.dv") < F.col("y.dv"))
            | ((F.col("x.dv") == F.col("y.dv")) & (F.col("x.v") < F.col("y.v")))
        ),
    ).select(
        F.col("x.u").alias("a"), F.col("x.v").alias("b"), F.col("y.v").alias("c")
    )
    z = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.join(z, ["b", "c"])
    # 3-arm union, NOT an explode: each arm re-runs the wedge-close
    # join, but the arms are independent broadcast joins over the
    # CHECKPOINTED o (cheap to re-probe) and run as parallel stages —
    # A/B-measured 2.9 s (union) vs 3.1 s (explode) at sf0.1 in r11.
    members = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return members.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def kcore_peel(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected graph: each
    round drops every node whose CURRENT degree is below ``k``, then
    drops edges touching a dropped node; after ``rounds`` rounds the
    survivors are a SUPERSET of the true k-core that shrinks toward it
    monotonically (the true core is the fixpoint; each round can only
    remove non-core nodes, never core ones). Fixed rounds keep the
    operator oracle-replayable (an unrolled SQL round per peel) and
    the job count data-independent — the same bounded-iteration
    contract as :func:`pagerank_exact`; raise ``rounds`` for deeper
    chains of hanging tendrils. Dense-core extraction is the graph
    curation step that strips low-support noise off a near-dup /
    co-occurrence graph before community work.

    Input edges are canonicalized exactly like the CC family
    (undirected, deduplicated, self-loops dropped), so a multi-edge
    counts once toward degree. Returns ``(node, degree)`` for the
    surviving nodes with their degree inside the surviving subgraph.

    Scale shape per round: one map-side-combined degree aggregate +
    two broadcast-eligible semi joins of the edge list against the
    (shrinking) survivor set — no windows, no driver data round-trip.
    Each round's edge frame is ``localCheckpoint``-ed (lineage
    TRUNCATED — persist chaining re-plans the whole nested join tree
    each round, the exact blow-up the module docstring documents) and
    the retired round's blocks are freed via :func:`_free_ckpt`, the
    CC loop's storage hygiene.
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"need k >= 1 and rounds >= 1, got {k}/{rounds}")
    e = _canonical(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    )
    # undirected degree: count each edge from both endpoints
    prev = symmetric_edges(
        e, p1_col="s", p2_col="d", src_col="s", dst_col="d"
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = prev.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("s")
        # shuffle_hash on the survivor side: a checkpointed frame
        # reports no size stats, so Catalyst defaults both semi joins
        # to sort-merge — re-SORTING the full edge frame twice per
        # round (the same stats-blind-SMJ class as the round-6
        # pair-stream fix; measured in the 10x smoke as the kcore
        # ratio outlier). The node-grain survivor set is the build
        # side and only shrinks.
        nxt = (
            prev.join(keep.hint("shuffle_hash"), "s", "semi")
            .join(
                keep.select(F.col("s").alias("d")).hint("shuffle_hash"),
                "d",
                "semi",
            )
            .localCheckpoint(eager=True)
        )
        _free_ckpt(prev)  # retired round: never read again
        prev = nxt
    return prev.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def khop_reachable(
    edges: DataFrame,
    seed_pred,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    hops: int = 3,
) -> DataFrame:
    """Bounded-hop BFS over a directed graph: every node reachable from
    the seed set (``seed_pred``: node Column -> boolean Column, the
    :func:`pagerank_exact` convention) within ``hops`` edges, labeled
    with its MINIMUM hop distance (seeds are hop 0). The frontier
    pattern — expand, subtract visited, accumulate — is the iterative
    shape CC/k-core/PageRank don't exercise: per round one semi join
    (edges x frontier on src) and one anti join (candidates x visited),
    both keyed; the frontier and visited frames localCheckpoint per
    round with retired rounds freed (the cluster-module loop hygiene).
    Bounded hops keep the job count data-independent and the oracle an
    unrolled round per hop — the crawl-frontier / seed-expansion
    primitive (grow a curated corpus along the link graph, depth
    capped).

    Returns ``(node, hop)`` — one row per reachable node, hop in
    [0, hops].
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    # hash-partition the edge frame by the probe key ONCE: every hop's
    # semi join requires hashpartitioning(s) and reuses the persisted
    # layout, so only the (tiny, node-grain) frontier shuffles per hop
    # instead of the full edge frame (guide §2.4 — share one exchange).
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    e = e.repartition(
        e.sparkSession.sparkContext.defaultParallelism, "s"
    ).persist()
    # seed derivation: filter each endpoint arm BEFORE the distinct so
    # the exchange carries only seed candidates, never the full node
    # set (guide §2.3 — shuffle fewer bytes; measured 5.1 -> 3.8 s
    # with the partitioning change at sf0.1)
    seeds = (
        e.select(F.col("s").alias("node"))
        .filter(seed_pred(F.col("node")))
        .unionByName(
            e.select(F.col("d").alias("node")).filter(
                seed_pred(F.col("node"))
            )
        )
        .distinct()
    )
    visited = seeds.withColumn("hop", F.lit(0)).localCheckpoint(eager=True)
    frontier = visited.select("node")
    try:
        for i in range(1, hops + 1):
            # shuffle_hash on the node-grain sides: frontier/visited
            # come off checkpoints (no size stats), so Catalyst would
            # otherwise sort-merge both joins — sorting the edge frame
            # every hop (the kcore stats-blind-SMJ class).
            nxt = (
                e.join(
                    frontier.select(F.col("node").alias("s")).hint(
                        "shuffle_hash"
                    ),
                    "s",
                    "semi",
                )
                .select(F.col("d").alias("node"))
                .distinct()
                .join(
                    visited.select("node").hint("shuffle_hash"),
                    "node",
                    "anti",
                )
            )
            new_rows = nxt.withColumn("hop", F.lit(i))
            nv = visited.unionByName(new_rows).localCheckpoint(eager=True)
            _free_ckpt(visited)
            visited = nv
            # derive the next frontier from the CHECKPOINTED union —
            # new_rows' lineage still references the freed prior round
            frontier = visited.filter(F.col("hop") == i).select("node")
        return visited
    finally:
        e.unpersist()


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    rounds: int = 2,
) -> DataFrame:
    """Bounded-round SEMI-SUPERVISED label propagation over a directed
    edge list: seed nodes carry fixed labels; each round every still-
    unlabeled node adopts the MAJORITY label among its already-labeled
    in-neighbors (ties -> smallest label), and newly labeled nodes
    propagate in later rounds. The seed-expansion primitive for
    classifying a corpus from a small labeled set along a similarity /
    co-occurrence graph — the labeled cousin of :func:`khop_reachable`
    (which tracks reachability, not label competition).

    Deterministic and oracle-replayable by construction: fixed round
    count, exact integer vote counts, total tie order (count DESC,
    label ASC). Seed labels never change (the clamped formulation).
    Labels must be NUMERIC: the tie order rides a (cnt, -label)
    max-struct, and an explicit dtype guard rejects non-numeric label
    columns at CALL time with a TypeError (map string labels to codes
    first). The guard is deliberate (r08 fresh-lens fix): without it
    the negation only fails at RUNTIME mid-task under ANSI mode, and
    under a caller session with ANSI off it would silently cast
    strings to NULL and corrupt the vote order instead of failing.

    Scale shape per round: one edges x labels equi-join keyed on src
    (shuffle_hash on the node-grain label side — the frame comes off
    unioned lineage with no stats, the kcore stats-blind-SMJ class),
    one (node, label) vote aggregate, one max-struct majority pick,
    one anti join against the labeled set. ``rounds`` is small and
    user-bounded, so lineage stays shallow without checkpointing.

    Returns ``(node, label, round)`` — every node labeled within
    ``rounds`` rounds, seeds at round 0.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from pyspark.sql.types import NumericType

    label_type = seeds.schema[label_col].dataType
    if not isinstance(label_type, NumericType):
        raise TypeError(
            f"label column {label_col!r} must be numeric for the "
            f"(cnt, -label) tie order, got {label_type.simpleString()}; "
            "map string labels to integer codes first"
        )
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    labeled = seeds.select(
        F.col(node_col).alias("node"),
        F.col(label_col).alias("label"),
        F.lit(0).alias("round"),
    )
    for r in range(1, rounds + 1):
        votes = (
            e.join(
                labeled.select(
                    F.col("node").alias("s"), "label"
                ).hint("shuffle_hash"),
                "s",
            )
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .join(labeled.select("node").hint("shuffle_hash"), "node", "anti")
        )
        winner = (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"),
                        (-F.col("label")).alias("neg"),
                    )
                ).alias("m")
            )
            .select(
                "node",
                (-F.col("m.neg")).alias("label"),
                F.lit(r).alias("round"),
            )
        )
        labeled = labeled.unionByName(winner)
    return labeled


def _neighbor_lists(
    edges: DataFrame, src_col: str, dst_col: str, max_degree: int | None
) -> tuple[DataFrame, DataFrame]:
    """The neighbour-list stage the link scorers share. Returns
    ``(e, hubs)``: ``e`` is the canonical edge set ``(s, d)``, s < d,
    lazily checkpointed; ``hubs`` is ``(n, deg, ns)`` per node, with
    ``deg`` the FULL degree and ``ns`` the ascending neighbour list
    sliced to its first ``max_degree`` entries.

    Scale shape: ``e`` is checkpointed because every scorer reads it
    twice (the doubling here and its own existing-edge join) and the
    planner reuses no subtree, so the upstream pair-mining pipeline
    would otherwise run once per reference (measured: 7 parquet scans
    in one action). The doubling is one explode, the lists are ONE
    node-keyed shuffle (the posting-list move, not an edges x edges
    self-join), and the slice bounds per-node pair work at
    min(deg, cap)^2 — the hot-basket cap: a hub's neighbours beyond
    the cap are dropped BY CONTRACT, deterministically, mirrored in
    the oracles' rank <= cap predicate. ``hubs`` is repartitioned to
    ``defaultParallelism``: AQE coalesces the aggregate by its byte
    size, blind to the quadratic pair expansion that follows."""
    if max_degree is not None and max_degree < 2:
        raise ValueError(
            f"max_degree must be >= 2 (a 1-neighbor cap generates no "
            f"wedges at all), got {max_degree}"
        )
    e = _canonical(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    ).localCheckpoint(eager=False)
    und = symmetric_edges(e, p1_col="s", p2_col="d", src_col="s", dst_col="d")
    hubs = und.groupBy(F.col("s").alias("n")).agg(
        F.array_sort(F.collect_set("d")).alias("ns_full")
    )
    sliced = (
        F.slice("ns_full", 1, max_degree)
        if max_degree is not None
        else F.col("ns_full")
    )
    hubs = hubs.select(
        "n", F.size("ns_full").cast("long").alias("deg"), sliced.alias("ns")
    ).repartition(edges.sparkSession.sparkContext.defaultParallelism)
    return e, hubs


def _link_candidates(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    max_degree: int | None,
    rank_by: str,
) -> DataFrame:
    """The link-prediction pipeline: wedge pairs of every neighbour
    list (:func:`suffix_pairs`, u < v) hash-aggregate on the pair key
    into ``common_cnt`` and ``ra_ppm = sum(PPM DIV deg(center))``,
    one anti join drops existing edges (candidates are canonical, so
    one orientation suffices), and each node keeps its top ``k``
    candidates by (``rank_by`` DESC, candidate ASC) over both
    orientations of each pair — one explode, so the candidate relation
    is read once. Returns ``(node, candidate, ra_ppm, common_cnt,
    rank)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e, hubs = _neighbor_lists(edges, src_col, dst_col, max_degree)
    wedges = suffix_pairs(
        hubs.select("ns", F.expr(f"{PPM}L DIV deg").alias("w_ppm")),
        "ns",
        "w_ppm",
    )
    scored = wedges.groupBy(F.col("a").alias("u"), F.col("b").alias("v")).agg(
        F.sum("w_ppm").alias("ra_ppm"),
        F.count(F.lit(1)).alias("common_cnt"),
    )
    cand = scored.join(
        e.select(F.col("s").alias("u"), F.col("d").alias("v")).hint(
            "shuffle_hash"
        ),
        ["u", "v"],
        "anti",
    )
    both = symmetric_edges(
        cand, p1_col="u", p2_col="v", src_col="node", dst_col="candidate",
        weight_cols=["ra_ppm", "common_cnt"],
    )
    w = Window.partitionBy("node").orderBy(
        F.desc(rank_by), F.asc("candidate")
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "node",
            "candidate",
            "ra_ppm",
            "common_cnt",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def common_neighbor_candidates(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 5,
    max_degree: int | None = 100,
) -> DataFrame:
    """LINK PREDICTION by common-neighbor count: for every
    non-adjacent node pair sharing at least one neighbor, count the
    shared neighbors, then keep each node's top-``k`` candidates
    (count DESC, candidate-id ASC — a total order, so the cut is
    deterministic). The classic first-order recommender over a
    co-occurrence graph ("parts bought alongside the same parts",
    "documents linked from the same documents") and the cheap
    candidate stage under heavier rankers.

    ``max_degree`` slices each node's sorted neighbor list to its first
    ``max_degree`` neighbors before the quadratic pair expansion: a
    hub's tail neighbors beyond the cap are dropped BY CONTRACT and the
    bias is deterministic, mirrored in the oracle's rank <= cap
    predicate. Scale shape: :func:`_neighbor_lists` then
    :func:`_link_candidates`, ranked by ``common_cnt``.

    Returns ``(node, candidate, common_cnt, rank)`` with rank in
    [1, k].
    """
    # the optimizer prunes the unread ra_ppm sum from the wedge aggregate
    return _link_candidates(
        edges, src_col, dst_col, k, max_degree, "common_cnt"
    ).drop("ra_ppm")


def resource_allocation_candidates(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 5,
    max_degree: int | None = 100,
) -> DataFrame:
    """LINK PREDICTION by the RESOURCE-ALLOCATION index (Zhou, Lü &
    Zhang, Eur. Phys. J. B 2009) in EXACT integer ppm: for every
    non-adjacent pair sharing neighbors, score
    ``sum over shared neighbors w of (PPM DIV deg(w))`` — the
    degree-discounted refinement of plain common-neighbor counting
    (a shared hub says far less than a shared rare neighbor; RA and
    its log-discounted cousin Adamic-Adar dominate raw counts on
    recommendation benchmarks, and RA's reciprocal discount needs no
    float log, so the score replays bit-for-bit in any engine).

    Same ``max_degree`` deterministic-bias contract as
    :func:`common_neighbor_candidates` — but the DISCOUNT uses the
    center's FULL degree, computed on the unsliced set, so a capped
    hub still discounts as the hub it is. Scale shape:
    :func:`_neighbor_lists` then :func:`_link_candidates`, ranked by
    (ra_ppm DESC, candidate ASC).

    Returns ``(node, candidate, ra_ppm, common_cnt, rank)``.

    Reference scope note: no graph operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    return _link_candidates(edges, src_col, dst_col, k, max_degree, "ra_ppm")


def edge_structural_similarity(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = 100,
) -> DataFrame:
    """STRUCTURAL SIMILARITY of every EXISTING edge — open-neighborhood
    Jaccard ``|N(u) inter N(v)| / |N(u) union N(v)|`` in exact integer
    ppm. This is the edge weight SCAN-family graph clustering
    (Xu et al., KDD 2007) thresholds to find communities, hubs and
    outliers, and the standard "is this edge inside a community or a
    bridge between two?" score: a high-Jaccard edge lives inside a
    dense cluster, a low-Jaccard edge connects strangers. (SCAN itself
    uses closed neighborhoods and a float sqrt-cosine; the Jaccard
    variant needs no float — closed-neighborhood counts are the open
    ones + 2 for an existing edge, derivable by the caller.)

    ``max_degree`` slices each sorted neighbor list before the
    quadratic wedge expansion; pairs whose shared neighbors all rank
    beyond the cap are undercounted BY CONTRACT, deterministically.
    Scale shape: :func:`_neighbor_lists`, then wedge pairs
    hash-aggregate on the pair key, then ONE semi-orientation join
    keeps existing edges only (the link predictors anti-join the same
    relation) and the FULL degrees ride in via two broadcast-sized
    node-grain joins. An existing edge with zero shared neighbors is
    still emitted (jaccard 0) via a left join from the edge list, not
    the wedge relation — bridges are the interesting rows.

    Returns ``(p1, p2, common_cnt, deg1, deg2, jaccard_ppm)`` with
    p1 < p2; ``jaccard_ppm = common_cnt * PPM DIV
    (deg1 + deg2 - common_cnt)`` (truncating, denominator >= 2 for any
    existing edge so never zero).

    Reference scope note: no graph operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    e, hubs = _neighbor_lists(edges, src_col, dst_col, max_degree)
    # node-grain branch point (wedge expansion + two degree joins read
    # it): checkpoint so the neighborhood aggregate runs once
    hubs = hubs.localCheckpoint(eager=False)
    cn = (
        suffix_pairs(hubs, "ns")
        .groupBy(F.col("a").alias("u"), F.col("b").alias("v"))
        .agg(F.count(F.lit(1)).alias("common_cnt"))
    )
    deg = hubs.select("n", "deg")
    scored = (
        e.select(F.col("s").alias("u"), F.col("d").alias("v"))
        .join(cn.hint("shuffle_hash"), ["u", "v"], "left")
        .na.fill({"common_cnt": 0})
        .join(deg.select(F.col("n").alias("u"), F.col("deg").alias("deg1")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("deg2")), "v")
    )
    return scored.select(
        F.col("u").alias("p1"),
        F.col("v").alias("p2"),
        F.col("common_cnt").cast("long").alias("common_cnt"),
        "deg1",
        "deg2",
        F.expr(
            f"common_cnt * {PPM}L DIV (deg1 + deg2 - common_cnt)"
        ).alias("jaccard_ppm"),
    )


def hits_bipartite(
    incidence: DataFrame,
    *,
    hub_col: str = "hub",
    auth_col: str = "auth",
    iterations: int = 2,
) -> DataFrame:
    """HITS (Kleinberg, JACM 1999) over a BIPARTITE incidence relation
    — hub nodes point at authority nodes — in EXACT UNNORMALIZED
    integers: ``h_0 = 1`` for every hub, then alternating
    ``a_{t+1}(p) = sum of h_t over hubs pointing at p`` and
    ``h_{t+1}(c) = sum of a_{t+1} over authorities c points at``.
    Unnormalized HITS preserves the RANKING of the normalized
    iteration exactly (normalization is a positive scalar per round),
    and integer sums replay bit-for-bit in any engine — no float
    L2-normalization drift. The catalog/retrieval use: "which parts do
    the heaviest buyers concentrate on" — a popularity score that
    weights an endorsement by the endorser's own breadth, one step
    beyond raw degree.

    ``iterations`` counts AUTHORITY updates; scores grow like
    degree^iterations, so sums run in DECIMAL(38,0) (128-bit — safe
    for 2-3 iterations at warehouse degree scales; the emitted column
    stays DECIMAL(38,0) so the caller decides the final cast).

    Scale shape: the incidence is deduplicated once (distinct on
    (hub, auth)); every iteration is one key-partitioned aggregate
    producing a NODE-grain score frame plus one equi-join of the
    incidence against that frame, both shuffled on their join key —
    no windows, no broadcasts of edge-sized data, no driver loop
    state beyond the fixed iteration count.

    Returns ``(auth, score)`` — authority scores after ``iterations``
    rounds; hub scores are one more aggregate away and omitted to
    keep the output single-grain.

    Reference scope note: no graph operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # the deduplicated incidence is re-read by every iteration's two
    # joins plus the init aggregate (2*iterations - 1 references), and
    # each reference re-executed the whole upstream build (measured on
    # hits_parts_customers: 3 executions of the orders-lineitem join =
    # 6 parquet scans in one action) — checkpoint it lazily, the
    # triangle_counts/CC convention
    inc = incidence.select(
        F.col(hub_col).alias("h"), F.col(auth_col).alias("a")
    ).distinct().localCheckpoint(eager=False)
    # a_1 = in-degree (h_0 = 1), in DECIMAL(38,0) from the start
    auth = inc.groupBy("a").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("score")
    )
    for _ in range(iterations - 1):
        hub = (
            inc.join(auth, "a")
            .groupBy("h")
            .agg(F.sum("score").cast("decimal(38,0)").alias("hscore"))
        )
        auth = (
            inc.join(hub, "h")
            .groupBy("a")
            .agg(F.sum("hscore").cast("decimal(38,0)").alias("score"))
        )
    return auth.select(F.col("a").alias("auth"), "score")


def cluster_purity(
    comps: DataFrame,
    labels: DataFrame,
    *,
    node_col: str = "node",
    comp_col: str = "comp",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster LABEL PURITY in exact integer ppm — the standard
    external clustering-quality check (majority-label fraction), here
    pointed at near-dup components: a pure component (every member
    from one source/label) is what a correct dedup graph produces;
    low-purity components flag over-merging (a too-loose similarity
    threshold chaining unrelated docs together).

    Two key-partitioned aggregates and one equi-join, nothing else:
    (comp, label) counts first (map-side combine), then per-comp
    ``max`` elects the majority count while ``sum`` recovers the size
    — never a window over members, never a collect. Majority TIES
    resolve to the count (purity is about the max count, not which
    label holds it), so the output is deterministic without a
    tie-break rule. ``purity_ppm = majority_n * PPM DIV size``
    truncates exactly the way DuckDB ``//`` does.

    Returns ``(comp, size, majority_n, purity_ppm)``. Nodes missing
    from ``labels`` are dropped by the inner join (size counts labeled
    members only — document the label frame's completeness contract).

    Reference scope note: no clustering exists in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    m = comps.select(
        F.col(node_col).alias("__n"), F.col(comp_col).alias("comp")
    ).join(
        labels.select(
            F.col(node_col).alias("__n"), F.col(label_col).alias("__l")
        ),
        "__n",
    )
    per_label = m.groupBy("comp", "__l").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return per_label.groupBy("comp").agg(
        F.sum("__c").alias("size"),
        F.max("__c").alias("majority_n"),
    ).select(
        "comp",
        "size",
        "majority_n",
        F.expr(f"majority_n * {PPM}L DIV size").alias("purity_ppm"),
    )


def local_clustering(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b",
) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT in exact integer ppm —
    Watts-Strogatz ``2 * triangles / (deg * (deg - 1))``, the
    tight-community-vs-chain-noise signal one normalization past raw
    triangle counts: a node whose neighbors all know each other scores
    PPM, a pure hub scores 0.

    Composes :func:`triangle_counts` (degree-ordered orientation — the
    Suri-Vassilvitskii bound on wedge work) with one degree aggregate
    and a LEFT join (triangle-free nodes matter and score 0). Emitted
    for nodes with degree >= 2 (the coefficient is undefined below);
    the ratio is one integer DIV, truncating exactly like DuckDB
    ``//``.

    Returns ``(node, degree, n_tri, lcc_ppm)``.

    Reference scope note: no graph operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    # self-loops dropped to match triangle_counts' _canonical edge set:
    # a loop adds 2 to the naive degree but can never close a triangle,
    # which would deflate lcc_ppm for any caller whose raw edge list
    # carries loops (ADVICE r09)
    # checkpointed: consumed by both degree arms AND fed to
    # triangle_counts (which would otherwise re-run the whole upstream
    # pair pipeline for its own canonicalization — 3 executions total,
    # the edge_structural_similarity finding). _canonical is idempotent
    # on an already-canonical frame, so passing canon through is exact.
    canon = _canonical(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    ).localCheckpoint(eager=False)
    deg = (
        canon.select(F.col("s").alias("node"))
        .unionAll(canon.select(F.col("d").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(canon, "s", "d")
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.expr(
                f"coalesce(n_tri, 0) * 2 * {PPM}L "
                f"DIV (degree * (degree - 1))"
            ).alias("lcc_ppm"),
        )
    )
