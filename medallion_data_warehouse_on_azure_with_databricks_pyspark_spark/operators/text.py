"""Text-analysis operators for LLM data pipelines (extension surface).

Not present in the reference (its silver layer only does column cleanses) —
required by the engine spec for training-data curation at 100 TB: token
counting, quality scoring, language identification, and content
fingerprinting over the ``documents`` table.

Everything here is built-in Catalyst expressions (split/regexp/array
functions) running JVM-side, with one exception: ``simhash64``'s 64-lane
bit vote is a vectorized Arrow kernel (the interpreted higher-order
formulation measures ~10× slower; token hashing stays JVM ``xxhash64``).
Each op is a narrow projection: at 100 TB the scan reads only ``text``
plus requested columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword inventories for the n-gram/stopword heuristic
#: language-ID.  Deliberately small + deterministic; order defines tie-break.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que", "por", "para"],
    "it": ["il", "di", "che", "e", "non", "per", "una", "sono", "con", "del"],
    "pt": ["o", "de", "que", "e", "do", "da", "em", "um", "para", "com"],
    "nl": ["de", "het", "een", "van", "en", "dat", "niet", "je", "op", "zijn"],
    "sv": ["och", "att", "det", "som", "en", "på", "är", "av", "för", "med"],
}

#: BPE-ish tokenizer regex: letter runs, digit runs, single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization as an array column."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count (0 for empty/blank text)."""
    c = F.col(text_col)
    n = F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )
    return df.withColumn(out, n)


def bpe_token_count(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """Sub-word-ish token count via ``TOKEN_REGEX`` extraction — a cheap,
    deterministic, SQL-expressible proxy for BPE token counts used in
    length filtering.  For algorithm-faithful counts see
    :func:`bpe_token_count_exact`."""
    return df.withColumn(
        out, F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
    )


def bpe_token_count_exact(
    df: DataFrame,
    text_col: str = "text",
    out: str = "n_bpe_tokens",
    ranks: dict | None = None,
) -> DataFrame:
    """Real byte-level BPE token count (``functions/bpe.py``): GPT-2-style
    pretokenizer + greedy lowest-rank pair merging — the same algorithm as
    GPT-2's encoder.py / tiktoken, so loading a real ``merges.txt`` via
    ``bpe.load_merges`` makes these counts match that tokenizer exactly.

    Arrow-vectorized ``pandas_udf``: no shuffle, no driver data; the ranks
    dict travels in the UDF closure (KBs for the embedded table —
    broadcast it explicitly for a 50k-merge production vocabulary).
    """
    from ..functions import bpe

    table = dict(ranks) if ranks is not None else bpe.default_ranks()

    @F.pandas_udf("long")
    def _count(s: pd.Series) -> pd.Series:
        return s.map(lambda t: bpe.count_tokens(t, table) if t is not None else 0)

    return df.withColumn(out, _count(F.col(text_col)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the quality-signal bundle used by curation filters:

    ``n_chars_computed``, ``n_tokens``, ``avg_token_len``, ``alpha_ratio``
    (alphabetic chars / chars), ``punct_ratio``, ``stopword_ratio``
    (English-stopword tokens / tokens), ``quality_score`` (0..1 composite).

    One Project node; all ratios are explicit double arithmetic so oracle
    engines agree bit-for-bit.
    """
    c = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(c).cast("double")
    n_toks = F.size(toks).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", "")).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double")

    alpha_ratio = alpha / n_chars
    punct_ratio = punct / n_chars
    stopword_ratio = stop_hits / n_toks
    quality = (
        F.lit(0.25) * F.least(F.lit(1.0), n_toks / F.lit(100.0))
        + F.lit(0.25) * alpha_ratio
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.25) * F.least(F.lit(1.0), stopword_ratio * F.lit(5.0))
    )
    return df.withColumns({
        "n_chars_computed": n_chars.cast("long"),
        "n_tokens": n_toks.cast("long"),
        "avg_token_len": (alpha + punct) / n_toks,
        "alpha_ratio": alpha_ratio,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stopword_ratio,
        "quality_score": quality,
    })


def detect_language(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-heuristic language ID over ``LANG_STOPWORDS``.

    Scores = |distinct(tokens) ∩ stopwords(lang)|; argmax with declaration-
    order tie-break; zero everywhere → ``'und'``.  Pure array expressions —
    no UDF, no shuffle.
    """
    toks = F.array_distinct(tokens(text_col))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    # Cascade: first language (declaration order) holding the maximal score.
    max_score = F.greatest(*scores.values())
    pred = F.when(max_score == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(scores[lang] == max_score, F.lit(lang))
    return df.withColumn(out, pred.otherwise(F.lit("und")))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    token-level variant — the public rule set filters docs whose content is
    dominated by repeated fragments):

    * ``distinct_token_ratio`` — |distinct tokens| / |tokens| (low ⇒ spam).
    * ``top_token_frac`` — occurrences of the most frequent token / |tokens|
      (Gopher rejects > 0.2 for the top unigram).
    * ``dup_bigram_frac`` — 1 − |distinct bigrams| / |bigrams| (Gopher
      rejects high duplicate n-gram fractions; bigram variant here).

    Pure Catalyst array expressions — one Project node, no shuffle, no UDF.
    ``top_token_frac`` is O(u·n) per doc via a nested higher-order filter;
    for web-scale docs (n ≈ 10³ tokens) that is ~10⁶ cheap JVM comparisons,
    still far below the cost of one extra shuffle.  Ratios are NULL for
    empty text, and ``dup_bigram_frac`` is NULL below 2 tokens.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    nd = n.cast("double")
    uniq = F.array_distinct(toks)
    top_count = F.array_max(
        F.transform(uniq, lambda u: F.size(F.filter(toks, lambda t: t == u)))
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    has_toks = F.length(F.trim(F.col(text_col))) > 0
    return df.withColumns({
        "n_tokens": F.when(has_toks, n).otherwise(F.lit(0)).cast("long"),
        "distinct_token_ratio": F.when(has_toks, F.size(uniq) / nd),
        "top_token_frac": F.when(has_toks, top_count.cast("double") / nd),
        "dup_bigram_frac": F.when(
            has_toks & (n >= 2),
            F.lit(1.0) - F.size(F.array_distinct(bigrams)) / F.size(bigrams).cast("double"),
        ),
    })


def content_fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "fingerprint"
) -> DataFrame:
    """Normalized-content fingerprint: sha2-256 of lowercased,
    whitespace-collapsed text — the exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.withColumn(out, F.sha2(norm, 256))


#: PII / noise scrub patterns, applied in declaration order.  Kept to the
#: regex subset shared by Java (Spark) and RE2 (DuckDB/Go) — no backrefs,
#: no lookarounds — so oracle engines replace identically.
SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text", out: str = "clean_text") -> DataFrame:
    """Training-data hygiene: replace emails / URLs / IPs / phone numbers
    with typed placeholder tokens and attach per-pattern hit counts
    (``n_email`` …) so curation can filter PII-dense documents.

    Chained ``regexp_replace`` — single Project, JVM-side, no UDF.  Counts
    are taken on the *original* text (patterns overlap after replacement).
    """
    c = F.col(text_col)
    cleaned = c
    counts = {}
    for name, pat, token in SCRUB_PATTERNS:
        counts[f"n_{name}"] = F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        cleaned = F.regexp_replace(cleaned, pat, token)
    return df.withColumns({**counts, out: cleaned})


def _simhash_vote(
    tmp: DataFrame, hashes_col: str, out: str
) -> DataFrame:
    """The shared 64-lane ±1 vote over a per-token hash array column —
    vectorized Arrow kernel (the pure-Catalyst formulation, 64
    interpreted ``aggregate`` lambdas per row, measures ~10× slower).
    Deterministic: pure integer math on fixed hashes."""
    from pyspark.sql.functions import pandas_udf

    lanes = np.arange(64, dtype=np.uint64)

    @pandas_udf("long")
    def vote(hashes: pd.Series) -> pd.Series:
        fps = []
        for h in hashes:
            hu = np.asarray(h, dtype=np.int64).view(np.uint64)
            bits = (hu[:, None] >> lanes[None, :]) & np.uint64(1)
            votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
            fp = int(np.bitwise_or.reduce(
                (np.uint64(1) << lanes)[votes > 0], initial=np.uint64(0)
            ))
            fps.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
        return pd.Series(fps, dtype="int64")

    return tmp.withColumn(out, vote(F.col(hashes_col))).drop(hashes_col)


def simhash64(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """64-bit SimHash over whitespace tokens using ``xxhash64`` (JVM-side).

    Per token, each of the 64 bits votes ±1; the sign of each bit-sum forms
    the fingerprint.  Near-duplicate docs differ in few bits (Hamming).

    Hybrid plan (same shape as the MinHash kernel): token hashes stay in
    the JVM (one ``transform``+``xxhash64`` pass), the 64-lane vote runs as
    a vectorized Arrow kernel (:func:`_simhash_vote`).
    """
    hashes_col = "__simhash_tokens"
    tmp = df.withColumn(
        hashes_col, F.transform(tokens(text_col), lambda w: F.xxhash64(w))
    )
    return _simhash_vote(tmp, hashes_col, out)


def simhash64_poly(
    df: DataFrame, text_col: str = "text", out: str = "simhash"
) -> DataFrame:
    """SimHash whose token hashes come from the arithmetic polynomial
    family (``fingerprint._gram_hash``) instead of ``xxhash64`` — every
    step is exact integer math a DuckDB oracle can replay, so this lane
    is fully hash-verifiable where the xxhash64 lane is rows-only.

    Token hash = ``poly(base=263) * 2^31 + poly(base=257)`` — two
    independent family members concatenated into a 62-bit hash (each is
    mod 2^31-1).  Lanes 62-63 are constant zero, so the effective
    fingerprint is 62 bits; the vote, banding, and Hamming verify are
    unchanged (:func:`_simhash_vote` over the same 64 lanes).  Quality:
    near-dup detection needs well-mixed, independent bits per token,
    which the two-base polynomial family provides; xxhash64 remains the
    default for raw per-token throughput.
    """
    from .fingerprint import _gram_hash

    hashes_col = "__simhash_tokens"
    wide = F.lit(1 << 31).cast("long")
    tmp = df.withColumn(
        hashes_col,
        F.transform(
            tokens(text_col),
            lambda w: _gram_hash(w, base=263) * wide + _gram_hash(w),
        ),
    )
    return _simhash_vote(tmp, hashes_col, out)
