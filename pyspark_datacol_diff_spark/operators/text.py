"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language heuristics, fingerprinting.

All pure Column expressions (codegen'd, no UDFs). Every function returns a
Column so callers compose them into one projection — a 100 TB text-quality
pass should be ONE parquet scan with all stats in a single select.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import md5_int60

# Tiny embedded stopword list: enough for a deterministic English-ness
# signal without external data files (language-ID proper would load
# per-language frequency tables; this is the n-gram-heuristic variant).
EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for"]

_TOKEN_SPLIT = r"\s+"
_PUNCT_CLASS = r"[^.,;:!?]"


def tokens(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(t), _TOKEN_SPLIT)


def token_count(text: Column | str) -> Column:
    """Whitespace token count (the cheap pre-BPE length signal)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-approximating token count: words + punctuation runs counted
    separately (a word-boundary regex split, the common ~chars/4 proxy
    is worse). Counts matches of word-or-punct chunks."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(r"\w+|[^\w\s]"), 0))


def char_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.length(t)


def punct_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(t, _PUNCT_CLASS, ""))


def stopword_hits(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """How many of the stopword list appear as whole words (0..len(list)).

    Presence (not frequency) — LIKE on space-padded text keeps this a
    pure string predicate identical across engines (the DuckDB oracle
    uses the same construction).
    """
    t = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    hits = [
        F.when(padded.like(f"% {w} %"), 1).otherwise(0)
        for w in (stopwords or EN_STOPWORDS)
    ]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def is_english_like(text: Column | str, min_hits: int = 2) -> Column:
    """Cheap language-ID heuristic: enough English stopwords present."""
    return (stopword_hits(text) >= min_hits).cast("int")


# Per-language marker-word profiles for multi-language ID. Deliberately
# tiny (fits in a codegen'd expression, no broadcast data); real
# deployments swap in larger per-language frequency tables via the
# ``profiles`` argument without touching the operator.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "mit"],
    "en": ["the", "a", "and", "of", "to", "in", "is", "for"],
    "es": ["el", "los", "las", "y", "que", "es", "un", "por"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour"],
}

_CJK_RE = r"[\x{4e00}-\x{9fff}]"
_CJK_SCORE = 99  # any CJK presence dominates the latin stopword scores


def cjk_char_count(text: Column | str) -> Column:
    """Count of CJK-unified-ideograph characters (script-based signal —
    stopword lists can't work on unsegmented text)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.length(t) - F.length(F.regexp_replace(t, _CJK_RE, ""))


def lang_scores(
    text: Column | str,
    profiles: dict[str, list[str]] | None = None,
    cjk_lang: str | None = "zh",
) -> dict[str, Column]:
    """Per-language evidence scores: marker-word presence counts for the
    latin-script profiles, plus a dominant script-class score for
    ``cjk_lang``. All pure string predicates — one codegen'd projection,
    no UDF, no shuffle."""
    profiles = LANG_PROFILES if profiles is None else profiles
    scores = {
        lang: stopword_hits(text, words) for lang, words in profiles.items()
    }
    if cjk_lang:
        scores[cjk_lang] = (
            F.when(cjk_char_count(text) > 0, F.lit(_CJK_SCORE))
            .otherwise(F.lit(0))
        )
    return scores


def lang_id(
    text: Column | str,
    profiles: dict[str, list[str]] | None = None,
    cjk_lang: str | None = "zh",
    unknown: str = "und",
) -> Column:
    """n-gram-heuristic language ID: argmax over ``lang_scores``, ties
    broken by sorted language code (deterministic across engines), and
    ``unknown`` when no language scores at all."""
    scores = lang_scores(text, profiles, cjk_lang)
    langs = sorted(scores)
    mx = F.greatest(*[scores[l] for l in langs]) if len(langs) > 1 else scores[langs[0]]
    out = F.lit(unknown)
    for lang in reversed(langs):
        out = F.when((scores[lang] == mx) & (mx > 0), F.lit(lang)).otherwise(out)
    return out


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]: length band + punctuation
    presence + stopword signal (the C4-style heuristic family)."""
    n = char_count(text)
    toks = token_count(text)
    len_ok = F.when((n >= 50) & (n <= 10000), 0.4).otherwise(0.0)
    punct_ok = F.when(punct_count(text) > 0, 0.2).otherwise(0.0)
    stop_ok = F.when(stopword_hits(text) >= 2, 0.2).otherwise(0.0)
    word_len_ok = F.when(
        (toks > 0) & ((n / toks) >= 3) & ((n / toks) <= 12), 0.2
    ).otherwise(0.0)
    return len_ok + punct_ok + stop_ok + word_len_ok


def distinct_token_count(text: Column | str) -> Column:
    """Distinct whitespace-token count — with ``token_count`` this gives
    the word-repetition fraction (Gopher-style repetition filter,
    Rae et al. 2021 §A1.1) without ever emitting a float."""
    return F.size(F.array_distinct(tokens(text)))


def gram_multiset(toks: Column, n: int) -> Column:
    """All word n-grams of a token array as array<string>, NOT
    deduplicated — the single shared gram builder (dedup.word_ngrams
    distincts it for shingles, word_bigrams is the n=2 case,
    corpus.ngram_counts counts it). n-1 ``zip_with`` passes that
    concat the array against itself shifted by 1..n-1 — O(n) array
    traversals per document, no per-gram subarray allocation (the
    slice-per-gram formulation measured 5.5x slower at sf0.1; HOFs are
    interpreted, so allocation count is the cost driver). ``zip_with``
    pads the shorter (shifted) side with null and ``concat``
    null-propagates, so tail windows shorter than n become null and
    the final ``slice`` drops them. Empty array for docs with fewer
    than n tokens."""
    cnt = F.size(toks)
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(cnt - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(cnt >= n, F.slice(acc, 1, cnt - F.lit(n) + 1)).otherwise(
        F.array().cast("array<string>")
    )


def word_bigrams(text: Column | str) -> Column:
    """All word 2-grams (NOT deduplicated — repetition signals need the
    multiset): :func:`gram_multiset` at n=2."""
    return gram_multiset(tokens(text), 2)


def max_equal_run(arr: Column, *, elem_type: str = "string") -> Column:
    """Length of the longest run of equal adjacent elements in ``arr``
    (0 for an empty array) — one ``aggregate`` fold, no explode, no
    shuffle. On a SORTED array this is the max multiset multiplicity
    (the top-n-gram occurrence count of the Gopher repetition filter,
    Rae et al. 2021 §A1.1) computed embarrassingly parallel per row,
    replacing an explode + two hash aggregations.

    ``elem_type`` must name the array's element type (default string):
    the fold accumulator carries a typed ``prev`` slot, and Spark
    requires the step function's struct to match the seed struct
    exactly — pass e.g. ``elem_type="bigint"`` for an array<bigint>.

    The accumulator is ``struct(prev, run, best)``; elements are
    compared with ``<=>`` so null elements extend runs instead of
    resetting them, and the seed's null ``prev`` can never equal a
    (non-null) first element.
    """
    acc0 = F.struct(
        F.lit(None).cast(elem_type).alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = (
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(arr, acc0, step, lambda acc: acc["best"])


def consec_repeat_count(text: Column | str) -> Column:
    """Count of positions where a token immediately repeats
    (``ws[i] == ws[i+1]``) — the stutter signal ("batch batch batch"
    counts 2). zip_with pads the shifted side with null; ``null == x``
    is null and the filter drops it, so the tail position never counts.
    """
    toks = tokens(text)
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    hits = F.zip_with(toks, shifted, lambda a, b: a == b)
    return F.size(F.filter(hits, lambda x: x))


def doc_fingerprint(text: Column | str) -> Column:
    """Normalized-content fingerprint: md5 over lowercased,
    whitespace-collapsed text. Engine-portable (md5)."""
    t = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    return F.md5(norm)


_RH_BASE = 1000003
_RH_MOD = 2147483647  # 2^31 - 1


def rolling_hash_fingerprint(
    text: Column | str, *, base: int = _RH_BASE, mod: int = _RH_MOD
) -> Column:
    """Polynomial rolling-hash fingerprint over the token stream:
    ``fp = ((fp * base) + h(tok)) mod m`` folded left-to-right, where
    ``h(tok)`` is the first 60 bits of md5 reduced mod m.

    One ``aggregate`` fold per document — a single array traversal, no
    shuffle, no UDF. md5-derived token hashes keep it engine-portable
    (the DuckDB oracle reproduces it bit-for-bit); the fold stays inside
    signed-64 range because fp < m < 2^31 and base < 2^21, so
    fp*base + h < 2^52.

    Unlike ``doc_fingerprint`` (order-insensitive to nothing — a full
    content hash), the rolling form is the streaming-friendly shape: it
    extends incrementally token-by-token, the property rolling hashes
    exist for.
    """
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * F.lit(base) + md5_int60(tok) % F.lit(mod))
        % F.lit(mod),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    *,
    k: int = 3,
    w: int = 4,
    mod: int = _RH_MOD,
    lowercase: bool = True,
    out_col: str = "fps",
) -> DataFrame:
    """WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    2003 — the MOSS local document-fingerprinting algorithm): hash
    every ``k``-token gram, slide a window of ``w`` consecutive gram
    hashes, keep each window's MINIMUM, append the distinct selected
    hashes sorted as ``out_col`` (array<bigint>). The guarantee the
    paper proves: any shared token run of length >= ``w + k - 1``
    between two documents shares at least one fingerprint — so
    fingerprint-set intersection is a NO-FALSE-NEGATIVE detector for
    long shared substrings, at a density of ~2/(w+1) of the gram count
    (vs 1/1 for full shingling).

    Entirely IN-ROW — gram hashing is the same md5-reduce as
    :func:`rolling_hash_fingerprint` (engine-portable, bit-replayable
    in DuckDB), windows are ``transform`` + ``slice`` + ``array_min``:
    an embarrassingly parallel projection with NO shuffle and NO UDF.
    Documents with fewer than ``k`` tokens yield an empty set; with
    fewer than ``w + k - 1`` tokens they degrade to one window over
    all grams (the paper's short-document convention).

    This is a DataFrame operator, not a Column expression, FOR A
    REASON: the gram-hash array must be a NAMED column between
    Projects. Inlining it into the window lambda re-evaluates the
    whole O(m*k) md5 chain PER WINDOW POSITION — O(m^2 * k) per row
    (Catalyst does not CSE HOF subtrees, and CollapseProject will not
    inline a non-cheap expression referenced more than once, which is
    exactly the protection the staged form buys). Measured: the
    inlined form took >10 min on sf0.1 documents; this form is
    seconds. Grams themselves come from :func:`gram_multiset` (the
    zip_with builder — no per-gram subarray allocation).

    Hash-VALUE window minima make tie position irrelevant (the
    rightmost-tie rule in the paper matters only when positions are
    recorded; this form keeps the selected value set, which is what
    the pair miner joins on).

    Reference scope note: no text operators exist in the reference
    (SURVEY.md §2.7); north-star extension surface (public algorithm:
    Schleimer/Wilkerson/Aiken, SIGMOD 2003).
    """
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1, got k={k}, w={w}")
    reserved = {"__wn_tk", "__wn_hs", out_col} & set(df.columns)
    if reserved:
        raise ValueError(
            f"column(s) {sorted(reserved)} already exist; rename them "
            "before winnow_fingerprints (running_total's convention)"
        )
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    staged = df.withColumn(
        "__wn_tk", F.filter(tokens(t), lambda x: x != F.lit(""))
    ).withColumn(
        "__wn_hs",
        F.transform(
            gram_multiset(F.col("__wn_tk"), k),
            lambda g: md5_int60(g) % F.lit(mod),
        ),
    )
    hs = F.col("__wn_hs")
    m = F.size(hs)
    windows = F.transform(
        F.sequence(F.lit(1), m - w + 1),
        lambda j: F.array_min(F.slice(hs, j, w)),
    )
    # no_alias_inline fences the whole chain against downstream
    # re-inlining: a consumer's explode() makes the optimizer infer
    # size(out_col) > 0 and push it down SUBSTITUTING the alias — the
    # O(m^2*k) re-evaluation this staging exists to prevent (measured
    # >10 min vs seconds at sf0.1)
    from ..sources import no_alias_inline

    return staged.withColumn(
        out_col,
        no_alias_inline(
            F.when(m == 0, F.array().cast("array<bigint>"))
            .when(m < w, F.array(F.array_min(hs)))
            .otherwise(F.array_sort(F.array_distinct(windows)))
        ),
    ).drop("__wn_tk", "__wn_hs")
