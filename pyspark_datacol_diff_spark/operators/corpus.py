"""Corpus-level text operators for LLM training-data pipelines:
fixed-token-window chunking, vocabulary building, PII scrubbing.

Reference scope note: the reference library operates on tabular CSVs
only (`/root/reference/find_datacol_diff.py`); these are north-star
extensions for the text-corpus workload.

All pure Column/DataFrame expressions — no Python UDFs:

- chunking is a per-row ``sequence`` + ``posexplode`` + ``slice``; the
  row expansion happens inside the scan stage (no shuffle at all unless
  the caller aggregates afterwards);
- vocabulary is the canonical explode -> hash-aggregate; map-side
  partial aggregation means the shuffle carries one row per distinct
  token per partition, not one per occurrence — at 100 TB the shuffle
  volume is vocabulary-sized, not corpus-sized;
- PII scrubbing is a chain of ``regexp_replace`` with engine-portable
  patterns (no lookbehind, no backrefs — identical semantics in Java
  regex and RE2, so the DuckDB oracle runs the same patterns verbatim).
"""

from __future__ import annotations

import json
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import PPM, checked_long, md5_int32
from .text import token_count, tokens

# Portable PII patterns: kept to the regex subset with identical meaning
# in Java (Spark) and RE2 (DuckDB) — character classes, +/*/{m,}, no
# lookaround. Order matters: URLs may embed @, so scrub them first.
PII_URL = r"https?://[^\s]+"
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d[\d -]{7,}\d"


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_size: int = 64,
    overlap: int = 8,
    chunk_col: str = "chunk_text",
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the standard pre-tokenization chunking for context-window-bounded
    training samples. Deterministic: window w covers tokens
    ``[1 + w*(chunk_size-overlap), +chunk_size)``; the last window may
    be short; every document emits at least one chunk (empty text gives
    one empty chunk).

    Returns the id column plus ``(chunk_no, n_tokens, chunk_col)``.
    Zero shuffle: sequence/posexplode/slice all evaluate inside the
    scan's stage.
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    step = chunk_size - overlap
    toks = tokens(text_col)
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(step))
    exploded = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_no", "__start"),
    )
    piece = F.slice(F.col("__toks"), F.col("__start"), chunk_size)
    return exploded.select(
        id_col,
        "chunk_no",
        F.size(piece).alias("n_tokens"),
        F.concat_ws(" ", piece).alias(chunk_col),
    )


def token_counts(df: DataFrame, text_col: str, *, lowercase: bool = True) -> DataFrame:
    """Global ``(token, cnt)`` over the corpus — one explode + one
    hash aggregate with map-side combine (shuffle is vocabulary-sized)."""
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return (
        df.select(F.explode(tokens(t)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def top_vocab(
    df: DataFrame, text_col: str, k: int, *, lowercase: bool = True
) -> DataFrame:
    """Top-k vocabulary by frequency, fully deterministic order
    (cnt desc, token asc — ties never make the cut ambiguous)."""
    return (
        token_counts(df, text_col, lowercase=lowercase)
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


def ngram_counts(
    df: DataFrame,
    text_col: str,
    *,
    n: int = 2,
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Global word n-gram counts over the corpus — the LM sufficient
    statistic (bigram/trigram tables, contamination shingles, Kneser-
    Ney numerators all start here). Returns ``(gram, cnt)`` with
    ``cnt >= min_count``; ``gram`` is the n tokens joined by one space.

    Shape: gram materialization is ``text.gram_multiset`` (the shared
    n-1-zip_with builder — scan-stage, no shuffle, no self-join; the
    window/lead formulation would shuffle every token once, and the
    slice-per-gram formulation measured 6x slower at sf0.1); the only
    exchange is the gram-keyed hash aggregate, map-side combined so
    shuffle volume is distinct-grams-per-partition, not corpus token
    count. ``min_count`` prunes AFTER the aggregate (a global count
    cannot be decided earlier), which is also where LM pipelines
    prune. Documents with fewer than ``n`` tokens contribute nothing.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from .text import gram_multiset

    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.filter(tokens(t), lambda x: x != "")
    return (
        df.select(F.explode(gram_multiset(toks, n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def oov_stats(
    df: DataFrame,
    text_col: str,
    vocab: list[str],
    *,
    keys: Sequence[str] = (),
    lowercase: bool = True,
) -> DataFrame:
    """Tokenizer-coverage report: per group (or whole corpus with no
    ``keys``), total token occurrences and how many fall OUTSIDE
    ``vocab`` — the out-of-vocabulary mass that decides whether a
    tokenizer/vocab fits a feed before training starts. Returns
    ``(*keys, n_tokens, n_oov)`` — exact integers, never a float rate
    (callers divide at the edge).

    ``vocab`` is a bounded in-memory list by contract (a tokenizer
    vocab — 32K..256K entries), shipped ONCE as a constant-folded map
    literal (hash lookup per token, not a linear array scan) and
    probed inside the scan stage; the only exchange is the final
    grain-sized aggregate. No token explode, no join — the corpus
    never shuffles token rows. Build the vocab itself with
    :func:`top_vocab` (collect is bounded by its ``k``).

    Multiset semantics: every OCCURRENCE of an OOV token counts.
    """
    if not vocab:
        raise ValueError("vocab must be a non-empty list of tokens")
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    vmap = F.from_json(
        F.lit(json.dumps({v: 1 for v in sorted(set(vocab))})),
        "map<string,int>",
    )
    ks = list(keys)
    # build the token array ONCE per row (a single-expression form
    # would evaluate the split twice — HOF subtrees are not CSE'd),
    # then derive both counts from the materialized column.
    # NULL text -> NULL token array -> NULL sizes; count those docs as
    # zero tokens rather than poisoning the group sums with NULL
    toked = df.select(
        *ks, F.filter(tokens(t), lambda x: x != "").alias("__tk")
    )
    n_oov = F.size(
        F.filter(F.col("__tk"), lambda x: F.element_at(vmap, x).isNull())
    )
    return (
        toked.select(
            *ks,
            F.coalesce(F.size(F.col("__tk")), F.lit(0)).alias("__nt"),
            F.coalesce(n_oov, F.lit(0)).alias("__no"),
        )
        .groupBy(*ks)
        .agg(
            F.sum("__nt").alias("n_tokens"),
            F.sum("__no").alias("n_oov"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int,
    *,
    min_count: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Per-group signature vocabulary: the ``k`` tokens most
    over-represented in each group relative to the whole corpus — the
    domain/feed fingerprint (which terms make source X source X).
    Returns ``(group, token, rank, cnt_g, cnt_all)``.

    Ranking note: full lift is ``(cnt_g/tot_g) / (cnt_all/corpus)``,
    but within one group ``tot_g`` and ``corpus`` are constants, so
    the per-group ORDER is exactly ``cnt_g / cnt_all`` — computed as
    one IEEE double division of two exact integers (identical in
    every engine; no totals pass, no scalar broadcast needed at all).
    Ties break on token asc. ``min_count`` (on cnt_g) keeps noise
    words out of the rankings.

    Shape: one token-keyed aggregate over the corpus (map-side
    combined), PERSISTED at the branch point — ``cnt_all`` and the
    scored side both read it, and Spark's ReuseExchange does not fire
    across the aggregate boundary here (verified: unpersisted, the
    corpus is scanned twice); the result is k x groups rows, so it is
    materialized eagerly and the vocab-grain cache released before
    returning (the bm25 no-leaked-cache pattern). One vocab-grain
    join; the rank window partitions by group over vocab-sized input.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    tok = df.select(
        F.col(group_col).alias("group"),
        F.explode(tokens(t)).alias("token"),
    ).filter(F.col("token") != "")
    gcnt = tok.groupBy("group", "token").agg(
        F.count(F.lit(1)).alias("cnt_g")
    ).persist()
    allcnt = gcnt.groupBy("token").agg(F.sum("cnt_g").alias("cnt_all"))
    scored = gcnt.filter(F.col("cnt_g") >= min_count).join(allcnt, "token")
    ratio = F.col("cnt_g").cast("double") / F.col("cnt_all").cast("double")
    w = Window.partitionBy("group").orderBy(
        F.desc(ratio), F.asc("token")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("group", "token", "rank", "cnt_g", "cnt_all")
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        gcnt.unpersist()


def shingle_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    *,
    n: int = 3,
    lowercase: bool = True,
) -> DataFrame:
    """Cross-group content containment: for every group pair, how many
    DISTINCT word n-gram shingles they share, plus each side's
    distinct-shingle count — the cross-source contamination /
    syndication diagnostic (containment_a = n_shared/n_a says how much
    of A is also in B). Returns
    ``(group_a, group_b, n_shared, n_a, n_b)`` for pairs with
    ``group_a < group_b`` and at least one shared shingle; exact
    integers only.

    Shape: the corpus reduces to DISTINCT (group, shingle) once (the
    posting-list relation, shingle-keyed shuffle); the pair counts
    come from the shingle-keyed self-join of that relation — output
    per shingle is bounded by groups^2, never doc^2 — and the sizes
    re-aggregate the same relation. One corpus scan total: the posting
    relation is persisted at the branch point and released before
    returning (the result is group-pair-grain, so it is materialized
    eagerly — the bm25 no-leaked-cache pattern).
    """
    from .dedup import word_ngrams

    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    sh = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(word_ngrams(t, n)).alias("sh"),
        )
        .distinct()
        .persist()
    )
    sizes = sh.groupBy("g").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("g").alias("group_a"), "sh")
    b = sh.select(F.col("g").alias("group_b"), "sh")
    pairs = (
        a.join(b, "sh")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # sizes is GROUP-grain — usually tiny (source labels) but the group
    # column's cardinality is the caller's data, so the joins are not
    # hint-forced: AQE broadcasts when the measured size allows and
    # shuffles otherwise (the quantile_rank totals-join convention)
    out = (
        pairs.join(
            sizes.select(F.col("g").alias("group_a"), F.col("sz").alias("n_a")),
            "group_a",
        )
        .join(
            sizes.select(F.col("g").alias("group_b"), F.col("sz").alias("n_b")),
            "group_b",
        )
        .select("group_a", "group_b", "n_shared", "n_a", "n_b")
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def pii_counts(text: Column | str) -> Column:
    """struct(n_urls, n_emails, n_phones) found in ``text`` — the audit
    signal next to the scrub (URLs counted before scrubbing strips the
    emails they may embed)."""
    t = F.col(text) if isinstance(text, str) else text
    no_urls = F.regexp_replace(t, PII_URL, " ")
    return F.struct(
        F.size(F.regexp_extract_all(t, F.lit(PII_URL), 0)).alias("n_urls"),
        F.size(F.regexp_extract_all(no_urls, F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_urls, F.lit(PII_PHONE), 0)).alias("n_phones"),
    )


def scrub_pii(
    text: Column | str,
    *,
    url_token: str = "<URL>",
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> Column:
    """Replace URLs, then emails, then phone-like digit runs with
    placeholder tokens. Pure ``regexp_replace`` chain — one codegen'd
    projection per scan, portable patterns (module docstring)."""
    t = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(t, PII_URL, url_token)
    out = F.regexp_replace(out, PII_EMAIL, email_token)
    out = F.regexp_replace(out, PII_PHONE, phone_token)
    return out


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    target_tokens: int = 512,
    num_buckets: int = 32,
) -> DataFrame:
    """Greedy sequential sequence packing: concatenate documents into
    fixed-budget training sequences and report, per document, which pack
    it lands in and at what token offset — the standard "concat and cut
    every ``target_tokens``" packing used to build dense context windows
    from short documents.

    Determinism without a global order: each document is routed to one of
    ``num_buckets`` independent packing streams by content hash of its id
    (portable md5 bucketing, same scheme as :mod:`sampling`), ordered
    within the stream by (hash, id), and assigned
    ``pack_no = floor(tokens_before / target_tokens)``. Same corpus in →
    same packs out, regardless of partitioning, retries, or cluster size.

    Scale shape: ONE shuffle (hash-partition by bucket), then a per-bucket
    sort + running sum — each bucket is an independent sequential stream,
    so parallelism == ``num_buckets``. At 100 TB set ``num_buckets`` to a
    few × total cores (each stream sorts ~corpus/num_buckets and spills
    if needed); packing quality is unaffected because streams are
    statistically identical under the uniform hash.

    Emits ``(id_col, n_tokens, bucket, pack_no, pack_offset)`` — all
    integers, engine-exact for cross-engine replay.
    """
    keyed = F.coalesce(F.col(id_col).cast("string"), F.lit("__null_key__"))
    h = md5_int32(keyed)
    staged = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        (h % num_buckets).alias("bucket"),
        h.alias("__h"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return staged.select(
        id_col,
        "n_tokens",
        "bucket",
        (before / target_tokens).cast("long").alias("pack_no"),
        (before % target_tokens).alias("pack_offset"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    min_df: int = 1,
    log_idf: bool = True,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    classic corpus keyword / topic-signal extraction.

    ``log_idf=True`` (default) scores ``tf * ln((N+1)/(df+1))``.
    ``log_idf=False`` scores ``tf / df`` — same tf-weighted
    rare-term-boosting shape but using IEEE-exact integer division, so
    the ranking is bit-reproducible across engines (``ln`` is not
    required to be correctly rounded by IEEE 754; division is). Use the
    ratio variant when replaying ranks against another engine.

    Scale shape: ONE corpus scan, three shuffles, no self-join. tf is a
    hash-aggregate on (doc, token) with map-side combine; document
    frequency is ``count(*) over (partition by token)`` layered on tf —
    a window, not a join, so the tf subtree is never recomputed and the
    exchange carries vocabulary-keyed token stats; the final top-k window
    re-keys by document. N (log-idf only) is a scalar aggregate over a
    column-pruned id scan, broadcast into the projection.

    Emits ``(id_col, token, tf, df_docs, rnk)`` — integers only.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.withColumn(
        "df_docs", F.count(F.lit(1)).over(Window.partitionBy("token"))
    )
    if min_df > 1:
        scored = scored.filter(F.col("df_docs") >= min_df)
    if log_idf:
        n_docs = df.select(F.count_distinct(F.col(id_col)).alias("__n"))
        scored = scored.crossJoin(F.broadcast(n_docs))
        score = F.col("tf") * F.log(
            (F.col("__n") + 1) / (F.col("df_docs") + 1)
        )
    else:
        score = F.col("tf").cast("double") / F.col("df_docs")
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__score"), F.asc("token")
    )
    return (
        scored.withColumn("__score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "token", "tf", "df_docs", "rnk")
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    span_tokens: int = 32,
) -> DataFrame:
    """Sub-document EXACT span dedup audit (the chunk-granularity
    approximation of suffix-array substring dedup, as used on big web
    corpora where full suffix arrays don't fit): cut every document into
    non-overlapping ``span_tokens``-token spans, fingerprint each span,
    and keep one global survivor per distinct fingerprint — the
    lexicographically smallest ``(doc_id, span_no)``. Reports, per
    document, how many of its spans survive vs lose to a copy elsewhere
    in the corpus — the signal a span-level rewriter would act on.

    Scale shape: the span explode happens inside the scan stage and is
    immediately projected down to ``(id, span_no, md5)`` — the span text
    itself never shuffles. The survivor election is a ``groupBy(__fp)``
    min-struct aggregation, NOT a window: partial aggregation runs
    map-side, so the fingerprint exchange carries one row per distinct
    span digest *per input partition*, not one per occurrence, and
    there is no per-partition sort. A doc keeps a span iff it owns the
    winning ``(id, span_no)`` — and since each digest elects exactly one
    winner, ``n_kept`` is just the winner count grouped by the winner's
    id: no join back to the occurrence rows at all. The digest relation
    feeds both the survivor election and the per-doc span count (a
    genuine branch point), so it is persisted; callers that are done
    with the result can ``spark.catalog.clearCache()``.

    Emits ``(id_col, n_spans, n_kept, n_dup)`` — integers only.
    """
    spans = chunk_tokens(
        df, id_col, text_col, chunk_size=span_tokens, overlap=0, chunk_col="__span"
    ).select(
        F.col(id_col),
        F.col("chunk_no").alias("__span_no"),
        F.md5(F.col("__span")).alias("__fp"),
    ).persist()
    per_doc = spans.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_spans"))
    winners = spans.groupBy("__fp").agg(
        F.min(F.struct(F.col(id_col), F.col("__span_no"))).alias("__w")
    )
    kept = winners.groupBy(
        F.col("__w")[id_col].alias(id_col)
    ).agg(F.count(F.lit(1)).alias("__n_kept"))
    return per_doc.join(kept, id_col, "left").select(
        F.col(id_col),
        "n_spans",
        F.coalesce(F.col("__n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        (
            F.col("n_spans")
            - F.coalesce(F.col("__n_kept"), F.lit(0).cast("long"))
        ).alias("n_dup"),
    )


def bm25_top_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query by Okapi BM25 — the
    standard lexical retrieval scorer (Robertson & Spärck Jones line of
    work; public formula). Uses the exact-rational idf variant
    ``(2N - 2df + 1) / (2df + 1)`` (the classic ``(N - df + 0.5) /
    (df + 0.5)`` scaled by 2/2) instead of its logarithm: ``ln`` is not
    required to be correctly rounded by IEEE 754 so engines may differ
    well beyond the last ulp, while +,*,/ are correctly rounded — an
    identically parenthesized evaluation agrees across engines to ~1
    ulp (exact but for FMA contraction, which engines may apply to
    a*b+c chains; measured 1-2 ulp Spark vs DuckDB). Rankings are
    engine-stable unless two scores sit within an ulp of each other;
    the ranks plus the integer (n_terms, sum_tf) diagnostics are the
    cross-engine-exact surface, the raw double score is informational.
    Rankings differ from log-idf BM25 only when idf spans decades
    (rare-term domination), which small query sets tolerate.

    Scale shape: the query-term set is tiny — it becomes an
    array-literal filter against the exploded corpus tokens, so only
    matching (doc, term) rows survive to the tf aggregation; the clean
    majority of the corpus contributes ZERO shuffle rows. Document
    lengths ride along as grouping keys (functionally dependent on
    doc_id). df(term) is aggregated to one row per query term and
    BROADCAST-joined back — deliberately NOT a term-partitioned window,
    which with a handful of terms would funnel every occurrence of a
    popular term into one partition (skew by construction). N and the
    corpus token total are a scalar broadcast. One corpus scan for the
    match side plus one column-pruned scan for the corpus stats.

    Emits ``(id_col, score, n_terms, sum_tf, rnk)``; ties broken by
    ascending id.
    """
    if not query_terms or len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be a non-empty list of unique terms")
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = df.select(
        F.col(id_col),
        token_count(F.lower(F.col(text_col))).alias("dl"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.array_contains(terms, F.col("term")))
    # genuine branch point: tf feeds both the per-term df aggregation
    # and the scoring join — persist so the corpus scan runs once. The
    # cache is released before returning (see the eager top-k
    # materialization below), so no corpus-sized block outlives the
    # call.
    tf = toks.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    n_docs = df.select(
        F.count(F.lit(1)).alias("__n"),
        F.sum(token_count(F.lower(F.col(text_col)))).alias("__total_dl"),
    )
    df_by_term = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    scored = tf.join(F.broadcast(df_by_term), "term").crossJoin(F.broadcast(n_docs))
    # identically parenthesized in the DuckDB oracle; avgdl inlined as
    # (__total_dl / __n) so both engines divide the same exact integers
    idf = (2 * F.col("__n") - 2 * F.col("df_docs") + 1) / (2 * F.col("df_docs") + 1)
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * ((1 - b) + b * (F.col("dl") / (F.col("__total_dl") / F.col("__n"))))
    )
    per_term = scored.select(
        F.col(id_col), "term", "tf", (idf * tf_part).alias("__s")
    )
    # per-term conditional sums (each has at most ONE non-null input per
    # doc, so no float-summation-order ambiguity), then added in the
    # caller's term order — a fixed parenthesization both engines share
    term_cols = [
        F.sum(F.when(F.col("term") == t, F.col("__s"))).alias(f"__s{i}")
        for i, t in enumerate(query_terms)
    ]
    score = F.coalesce(F.col("__s0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        score = score + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    scores = per_term.groupBy(id_col).agg(
        *term_cols,
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("tf").alias("sum_tf"),
    ).select(F.col(id_col), score.alias("score"), "n_terms", "sum_tf")
    # TakeOrderedAndProject (scale-safe top-k), then rank the k survivors
    # with a window that only ever sees k rows. The result is k rows, so
    # it is materialized EAGERLY (localCheckpoint) — which lets the
    # corpus-sized tf cache be unpersisted before returning instead of
    # leaking until an explicit clearCache (round-3 review finding).
    topk = scores.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    try:
        return topk.withColumn("rnk", F.row_number().over(w)).localCheckpoint(
            eager=True
        )
    finally:
        tf.unpersist()


def contamination_counts(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many distinct
    word ``n``-grams also appear anywhere in the benchmark set — the
    standard train/test-leakage audit (n-gram overlap decontamination as
    popularized by the GPT-3 appendix; public methodology).

    Scale shape: the benchmark is tiny relative to the corpus (that is
    the premise of decontamination), so its distinct-gram set BROADCASTS;
    the corpus side explodes its grams and hash-joins locally — the only
    exchange is the final count-per-doc aggregation, which carries
    matched grams only (a few rows per contaminated doc, nothing for the
    clean majority). No corpus-sized shuffle at any n.

    Returns (id_col, n_contaminated) for docs with >= 1 overlapping gram.
    """
    from .dedup import word_ngrams

    bench_grams = bench.select(
        F.explode(word_ngrams(text_col, n)).alias("__g")
    ).distinct()
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("__g")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def token_rarity_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Frequency-weighted token-rarity signals per document, INTEGER
    exact (no logs — ``ln`` is not correctly-rounded across engines, so
    a perplexity-style float score cannot be oracle-hashed; the integer
    surface carries the same ordering information):

    - ``n_tokens``: document length in whitespace tokens;
    - ``freq_mass``: sum over token POSITIONS of that token's corpus-wide
      occurrence count — high = stopword-heavy/common text, low = rare
      vocabulary (the frequency-weighted complement of a mean log-prob
      under a unigram model);
    - ``min_tok_count``: the rarest token's corpus count (1 = contains a
      corpus-hapax);
    - ``n_hapax``: how many of the document's DISTINCT tokens are
      corpus-hapaxes (typos, ids, junk — a strong quality signal).

    Scale shape: ONE corpus scan, no self-join. tf is a (doc, token)
    hash-aggregate with map-side combine; the corpus-wide count is a
    ``groupBy(token)`` sum (map-side partials -> one row per token per
    partition) joined back to tf on the token key — deliberately a
    JOIN, not ``sum(tf) over (partition by token)``: a stopword like
    "the" appears in nearly every document, and a token-partitioned
    window must buffer all ~n_docs of its tf rows on ONE task (windows
    are not skew-splittable), while the equivalent skewed join
    partition is exactly what AQE's skew-join splitting handles. The
    final rollup re-keys by document. Empty documents (zero tokens) are
    absent from the output (no token rows exist; the oracle applies the
    same semantics).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("__tok")
    ).filter(F.col("__tok") != "")
    tf = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__tf"))
    counts = tf.groupBy("__tok").agg(F.sum("__tf").alias("__gc"))
    gc = tf.join(counts, "__tok")
    return gc.groupBy(id_col).agg(
        F.sum("__tf").alias("n_tokens"),
        F.sum(F.col("__tf") * F.col("__gc")).alias("freq_mass"),
        F.min("__gc").alias("min_tok_count"),
        F.sum((F.col("__gc") == 1).cast("long")).alias("n_hapax"),
    )


def type_token_ratio(
    df: DataFrame,
    text_col: str,
    by: list[str],
    *,
    lowercase: bool = True,
) -> DataFrame:
    """Per-group TYPE-TOKEN RATIO — lexical diversity of a corpus slice
    (low TTR = repetitive boilerplate, the classic cheap signal next to
    the repetition/quality scores): distinct tokens (types) vs total
    tokens, emitted as exact integers plus ``ttr_ppm = types * 1e6 DIV
    tokens`` so the ratio replays bit-for-bit in any engine.

    Scale shape: explode -> ONE two-level aggregate — (by, token)
    counts first (map-side combine collapses repeats before the
    shuffle; shuffle is vocabulary-per-group-sized, not corpus-sized),
    then per-group type/token totals from the compact relation. Caveat
    the literature knows: raw TTR falls with corpus size, so compare
    like-sized slices (or feed same-size samples).

    Returns ``(*by, n_types, n_tokens, ttr_ppm)``.
    """
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    per_tok = (
        df.select(*by, F.explode(tokens(t)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy(*by, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_tok.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("cnt").alias("n_tokens"),
        )
        .withColumn(
            "ttr_ppm",
            F.expr(f"n_types * CAST({PPM} AS BIGINT) DIV n_tokens"),
        )
    )


def skipgram_pairs(
    df: DataFrame,
    text_col: str,
    *,
    window: int = 2,
    min_count: int = 2,
    lowercase: bool = True,
) -> DataFrame:
    """Windowed token CO-OCCURRENCE with exact-integer PMI lift — the
    word2vec-equivalent skip-gram statistic (Levy & Goldberg, NeurIPS
    2014 showed SGNS factorizes exactly this matrix): every ORDERED
    token pair (a before b, gap <= ``window``) is counted, marginals
    are a's source-count and b's target-count over the SAME pair
    population, and ``lift_ppm = n_ab * n_pairs * PPM DIV
    (n_a * n_b)`` (PMI's argument scaled to ppm — > PPM means
    positively associated; take ``ln`` client-side for literal PMI).
    Collocation extraction, phrase-table seeding, and PPMI embedding
    features all read from this one relation.

    Scale shape: the pair expansion is IN-ROW (a nested ``transform``
    over each doc's token array — per-row work len * window, no join,
    no shuffle until the count), pair counts hash-aggregate with
    map-side combine, marginals and the pair total are aggregates OVER
    THE COMPACT PAIR-COUNT RELATION (distinct-pair-grain, not
    corpus-grain), and ``min_count`` prunes the tail AFTER marginals so
    the denominators stay exact. The marginal joins are deliberately
    NOT hint-forced broadcasts: they are vocabulary-grain (unbounded at
    web scale), so AQE chooses the strategy from measured sizes. The
    128-bit lift product runs in DECIMAL(38,0) (same truncation as
    HUGEINT ``//``).

    Returns ``(a, b, n_ab, n_a, n_b, lift_ppm)``.

    Reference scope note: north-star extension — the reference library
    computes no text statistic (SURVEY.md §2).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    tk = F.filter(tokens(t), lambda x: x != F.lit(""))
    pairs = (
        df.select(tk.alias("tk"))
        .select(
            F.explode(
                F.expr(
                    f"flatten(transform(tk, (x, i) -> "
                    f"transform(slice(tk, i + 2, {window}), "
                    f"y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        # the counted pair relation feeds FOUR consumers (both
        # marginals, the scalar total, and the main stream) and the
        # planner reuses none of them — without truncation the token
        # explode + pair count re-executes per consumer (4 corpus
        # scans in one action, measured). Lazy checkpoint = the
        # cluster-module convention; the relation is vocabulary-
        # pair-grain, far smaller than the corpus.
        .localCheckpoint(eager=False)
    )
    src = pairs.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    tgt = pairs.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    tot = pairs.select(F.sum("n_ab").alias("n_pairs"))
    # no forced broadcast on src/tgt: they are TOKEN-grain (a web-scale
    # vocabulary is 1e8-1e9 types — a forced broadcast of it kills the
    # job regardless of AQE). The inner join on the surviving pair keys
    # prunes them naturally and AQE picks broadcast when the measured
    # size allows, shuffle otherwise (the quantile_rank totals-join
    # convention). The scalar pair total stays a broadcast: 1 row.
    return (
        pairs.filter(F.col("n_ab") >= min_count)
        .join(src, "a")
        .join(tgt, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                f"CAST(CAST(n_ab AS DECIMAL(38,0)) * n_pairs * {PPM} "
                f"DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def phrase_match_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrase: Sequence[str],
    *,
    lowercase: bool = True,
) -> DataFrame:
    """Exact k-token PHRASE SEARCH — which documents contain the
    phrase as CONSECUTIVE whitespace tokens, how often, and where it
    first occurs. The contamination / quote-detection primitive one
    notch stricter than n-gram overlap: token-aligned, so ``"scan
    merge"`` never matches inside ``"rescan merged"`` the way a raw
    substring search would.

    Scale shape: matching is IN-ROW — one pass over each doc's token
    array testing every alignment (``filter`` over the index range
    with a k-term conjunction), so the operator is an embarrassingly
    parallel scan with NO join and NO shuffle: filter and projection
    push straight down to the parquet scan, and a k-token phrase
    costs k comparisons per position only until the first mismatch
    (``forall`` short-circuits). The posting-list alternative (k-way
    positional-index self-join) only wins when the index is
    PREBUILT and reused across many phrases; for scan-time search
    this is the plan a 1000-executor cluster wants.

    Returns ``(doc_id, n_matches, first_pos)`` for matching docs only;
    ``first_pos`` is the 0-based token offset of the first occurrence.
    """
    k = len(phrase)
    if k < 1:
        raise ValueError("phrase must have at least one token")
    if any((not w) or (" " in w) for w in phrase):
        raise ValueError(f"phrase tokens must be non-empty and space-free, got {phrase!r}")
    # tokens are inlined into a SQL lambda as string literals — reject
    # quote/backslash rather than attempt escaping (a whitespace
    # tokenizer never produces them as part of a match anyway)
    if any(("'" in w) or ("\\" in w) for w in phrase):
        raise ValueError(
            f"phrase tokens must not contain quotes or backslashes, got {phrase!r}"
        )
    lit = [w.lower() if lowercase else w for w in phrase]
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    conj = " AND ".join(
        f"tk[i + {j}] = '{w}'" for j, w in enumerate(lit)
    )
    hits = F.expr(
        f"filter(sequence(0, size(tk) - {k}), i -> {conj})"
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.filter(tokens(t), lambda x: x != F.lit("")).alias("tk"),
        )
        .filter(F.size("tk") >= k)
        .select("doc_id", hits.alias("hits"))
        .filter(F.size("hits") > 0)
        .select(
            "doc_id",
            F.size("hits").cast("long").alias("n_matches"),
            F.element_at("hits", 1).cast("long").alias("first_pos"),
        )
    )


def vocab_growth(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_buckets: int = 10,
    lowercase: bool = True,
) -> DataFrame:
    """VOCABULARY GROWTH CURVE (Heaps'-law data) over ingestion order
    — how many NEW token types each successive corpus slice
    contributes, in exact integers: docs are cut into ``n_buckets``
    equal id-range slices, each type is charged to the bucket where it
    FIRST appears, and the curve reports per-bucket token volume, new
    types, and the cumulative type count. The "is more data still
    buying vocabulary?" curve behind corpus-scaling and dedup-budget
    decisions: a flattening curve means new data is rehashing the old
    distribution.

    Scale shape: explode -> ONE (token)-grain min-bucket aggregate
    (map-side combine collapses repeats before the shuffle; the
    shuffle is vocabulary-sized), token volumes ride the same pass as
    a bucket-grain aggregate, and the cumulative count runs through
    :func:`~..incremental.running_total`'s two-phase distributed
    prefix sum over the ``n_buckets``-row curve — never a
    SinglePartition window, per the engine's global-window ban (the
    offsets gather is <= ``n_buckets`` rows, bounded by the caller's
    own argument). Bucket = ``doc_id * n DIV (max_id + 1)`` with the
    id bound fetched by ONE 1-row driver aggregate and inlined as a
    literal (the running_total offsets convention — a broadcast
    crossJoin here re-plans as a ReusedExchange under the curve's
    self-reuse and defeats plan-level scalar detection); ids are the
    ingestion order by contract. WARNING: hash-ordered or otherwise
    shuffled ids break that contract silently — the curve still
    computes, but "first appearance" becomes first appearance in id
    order, not arrival order, and the growth curve is meaningless
    (types smear uniformly across buckets). Assign monotone ids at
    ingestion (or sort-and-reassign) before calling.

    Returns ``(bucket, n_tokens, new_types, cum_types)``.

    Reference scope note: north-star extension — the reference library
    computes no text statistic (SURVEY.md §2).
    """
    from .incremental import running_total

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    max_id = df.select(F.max(F.col(id_col)).alias("m")).collect()[0]["m"]
    if max_id is None:
        raise ValueError("vocab_growth needs at least one non-NULL id")
    toks = (
        df.select(
            F.expr(
                f"CAST({id_col} AS BIGINT) * {n_buckets} "
                f"DIV ({int(max_id)} + 1)"
            ).alias("bucket"),
            F.explode(tokens(t)).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    vol = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    first = toks.groupBy("token").agg(F.min("bucket").alias("bucket"))
    new_types = first.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("new_types")
    )
    curve = (
        vol.join(new_types, "bucket", "left")
        .na.fill({"new_types": 0})
        .select("bucket", "n_tokens", "new_types")
    )
    return running_total(
        curve,
        "bucket",
        "new_types",
        bucket=F.col("bucket"),
        out_col="cum_types",
    )


def doc_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    min_tf: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Per-document KEYWORD EXTRACTION by exact-integer TF-IDF rank —
    the top ``k`` terms that are frequent IN the doc and rare ACROSS
    the corpus: ``score = tf * (n_docs * PPM DIV df)`` (term
    frequency times an integer-rendered idf), ties broken by ascending
    term so the selection replays bit-for-bit. The tagging /
    routing / index-summarization primitive at doc grain — the
    source-grain sibling is c-TF-IDF (distinctive_terms_by_source).

    Scale shape: one explode -> (doc, term) tf aggregate (map-side
    combine collapses repeats before the shuffle), df(term) as a
    second aggregate OVER THE COMPACT (doc, term) RELATION (term-grain
    — equi-joined back with the strategy left to AQE, NEVER a forced
    broadcast of an unbounded vocabulary: the r09 forced_broadcast
    lint class), n_docs as a 1-row scalar broadcast, and the top-k per
    doc via row_number over a DOC-partitioned window (bounded
    partitions — each window sees one doc's distinct terms, never the
    corpus).

    ``idf_ppm = n_docs * PPM DIV df`` runs in DECIMAL(38,0) and
    the score is emitted BIGINT after the integer DIV — both exactly
    DuckDB ``//`` semantics.

    Returns ``(id_col, term, tf, df_docs, score, rnk)`` with
    ``rnk <= k``.

    Reference scope note: north-star extension — the reference library
    computes no text statistic (SURVEY.md §2).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_tf < 1:
        raise ValueError(f"min_tf must be >= 1, got {min_tf}")
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    tf = (
        df.select(F.col(id_col), F.explode(tokens(t)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= min_tf)
    )
    df_by_term = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_docs")
    )
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(df_by_term, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df_docs",
            F.expr(
                f"CAST(tf * (CAST(__n AS DECIMAL(38,0)) * {PPM} "
                f"DIV df_docs) AS BIGINT)"
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def hapax_census(
    df: DataFrame,
    group_cols,
    text_col: str = "text",
) -> DataFrame:
    """Per-group HAPAX LEGOMENA census — vocabulary-richness one rung
    past TTR: how much of each group's vocabulary occurs exactly once?
    A corpus whose hapax share collapses is template/boilerplate-heavy
    (few fresh types); one whose share explodes is OCR noise or
    tokenizer breakage — both the classic pretraining-corpus smells
    (Baayen, Word Frequency Distributions, 2001).

    Tokens are the standard lowercased whitespace split with empties
    dropped (the corpus-module convention). Shape: explode to (group,
    token) grain, ONE map-side-combined count at that grain (the only
    corpus-sized exchange — vocabulary-bounded after the combine), then
    a group-grain reduce: n_tokens = sum of counts, n_types = count,
    n_hapax = count of count-1 types, hapax_share_ppm = n_hapax *
    PPM DIV n_types (exact integer, floor == trunc: both
    non-negative).

    Returns ``(*group_cols, n_tokens, n_types, n_hapax,
    hapax_share_ppm)``. Groups with no tokens produce no row.

    Reference scope note: no text operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    gc = list(group_cols)
    tok = df.select(
        *gc,
        F.explode(
            F.filter(
                tokens(F.lower(F.col(text_col))), lambda x: x != ""
            )
        ).alias("__tok"),
    )
    grain = tok.groupBy(*gc, "__tok").agg(F.count(F.lit(1)).alias("__c"))
    return grain.groupBy(*gc).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("__c") == 1).cast("long")).alias("n_hapax"),
    ).select(
        *gc,
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr(f"n_hapax * {PPM}L DIV n_types").alias(
            "hapax_share_ppm"
        ),
    )


def simpson_diversity(
    df: DataFrame,
    group_cols,
    text_col: str = "text",
) -> DataFrame:
    """Per-group GINI-SIMPSON vocabulary diversity in exact ppm —
    ``1 - sum(p_i^2)`` over the group's token distribution: the
    probability two independently drawn tokens differ. The
    concentration complement of :func:`hapax_census` (hapax reads the
    distribution's tail, Simpson its head): a feed whose diversity
    collapses is one template repeated; entropy needs logs no
    cross-engine arithmetic replays, Simpson is one exact integer
    division per group — ``PPM - (sum(c_i^2) * PPM) DIV
    n^2`` in DECIMAL(38,0) (exact while ``n^2 * PPM < 10^38``),
    emitted through the checked BIGINT cast.

    Same token convention and (group, token)-grain single-exchange
    shape as hapax_census. Groups with no tokens produce no row.

    Returns ``(*group_cols, n_tokens, n_types, simpson_ppm)``.

    Reference scope note: no text operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    gc = list(group_cols)
    tok = df.select(
        *gc,
        F.explode(
            F.filter(
                tokens(F.lower(F.col(text_col))), lambda x: x != ""
            )
        ).alias("__tok"),
    )
    grain = tok.groupBy(*gc, "__tok").agg(F.count(F.lit(1)).alias("__c"))
    agg = grain.groupBy(*gc).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.expr("CAST(__c AS DECIMAL(38,0)) * __c")
        ).alias("__sq"),
    )
    return agg.select(
        *gc,
        "n_tokens",
        "n_types",
        checked_long(
            F.expr(
                f"{PPM} - (__sq * {PPM}) DIV "
                "(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)"
            ),
            context="simpson_ppm",
        ).alias("simpson_ppm"),
    )


def tv_distance_vs_rest(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Per-group TOTAL-VARIATION DISTANCE between the group's token
    distribution and the REST of the corpus, in exact scaled ppm — the
    "which source is the odd one out?" divergence census. KL/JSD need
    logs no cross-engine integer arithmetic replays; TV is the L1
    sup-norm ``1/2 * sum_t |p_t - q_t|`` and cross-multiplies exactly:
    with per-(group, token) counts ``c``, token totals ``tot_t``,
    group total ``T_g`` and grand total ``T``::

        num_g = sum over tokens IN g of |c*(T - T_g) - (tot_t - c)*T_g|
                + T_g * (T - A_g)        # mass of tokens absent from g
        tv_ppm = num_g * PPM DIV (2 * T_g * (T - T_g))

    where ``A_g = sum over tokens in g of tot_t``. All quantities
    non-negative, so DIV truncation agrees across engines; arithmetic
    is DECIMAL(38,0) and exact while ``T^2 * PPM < 10^38``
    (T up to ~3e15 tokens); emit is the checked BIGINT cast.

    Same token convention as :func:`hapax_census`. Scale shape: ONE
    (group, token)-grain map-side-combined count (the only corpus-sized
    exchange), a token-grain marginal joined back on the token key
    (vocabulary-sized, AQE-planned), broadcast group/grand totals, one
    keyed reduce. Groups whose complement is empty (the group IS the
    corpus — TV undefined, den = 0) are dropped; NULL group values are
    a real group (null-safe totals join).

    Returns ``(group_col, n_tokens, tv_ppm)``.

    Reference scope note: no text operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface.
    """
    tok = df.select(
        F.col(group_col).alias("__g"),
        F.explode(
            F.filter(
                tokens(F.lower(F.col(text_col))), lambda x: x != ""
            )
        ).alias("__tok"),
    )
    grain = tok.groupBy("__g", "__tok").agg(
        F.count(F.lit(1)).alias("__c")
    # the (group, token) grain feeds four consumers (token marginal,
    # group marginal, grand total, main join) and the planner reuses
    # none — lazy checkpoint so the corpus-sized explode+count runs
    # once (the skipgram_pairs convention; grain is vocabulary-sized)
    ).localCheckpoint(eager=False)
    tt = grain.groupBy("__tok").agg(F.sum("__c").alias("__tot"))
    gt = grain.groupBy("__g").agg(F.sum("__c").alias("__tg"))
    grand = grain.agg(F.sum("__c").alias("__tn"))
    j = (
        grain.join(tt, "__tok")
        .join(gt.withColumnRenamed("__g", "__g2"),
              F.col("__g").eqNullSafe(F.col("__g2")))
        .drop("__g2")
        .crossJoin(F.broadcast(grand))
    )
    per_g = j.groupBy("__g", "__tg", "__tn").agg(
        F.sum(
            F.abs(
                F.expr(
                    "CAST(__c AS DECIMAL(38,0)) * (__tn - __tg) "
                    "- CAST(__tot - __c AS DECIMAL(38,0)) * __tg"
                )
            )
        ).alias("__s"),
        F.sum("__tot").alias("__ag"),
    )
    num = F.expr(
        "__s + CAST(__tg AS DECIMAL(38,0)) * (__tn - __ag)"
    )
    den = F.expr(
        "CAST(2 AS DECIMAL(38,0)) * __tg * (__tn - __tg)"
    )
    return (
        per_g.withColumn("__num", num)
        .withColumn("__den", den)
        .filter(F.col("__den") != 0)
        .select(
            F.col("__g").alias(group_col),
            F.col("__tg").alias("n_tokens"),
            checked_long(
                F.expr(f"(__num * {PPM}) DIV __den"),
                context="tv_distance tv_ppm",
            ).alias("tv_ppm"),
        )
    )
