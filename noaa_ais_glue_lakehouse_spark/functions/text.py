"""Text-analysis kernels for corpus curation at scale.

These extend the reference's string handling (trim/empty-to-null,
``utils/common_functions_raw.py:117-127``) into the operations a
training-data pipeline needs: tokenization, n-gram shingling, quality
features, and a stopword-profile language heuristic. All native column
expressions — the hot path never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately simple and engine-portable: the duckdb oracle
# reimplements the identical counting rule.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokenize(text: Column) -> Column:
    """Whitespace tokenization of lowercased text → array<string>.

    ``split`` on ``\\s+`` after trim; empty string yields an empty array
    (filtered of empty tokens).
    """
    arr = F.split(F.trim(F.lower(text)), r"\s+")
    return F.filter(arr, lambda t: t != "")


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Character n-gram shingles (distinct) of lowercased text.

    Built with ``sequence`` + ``transform`` + ``substring`` — JVM-side.
    Strings shorter than n yield an empty array.
    """
    s = F.lower(text)
    length = F.length(s)
    idx = F.when(length >= n, F.sequence(F.lit(1), length - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: s.substr(i, F.lit(n)))
    return F.array_distinct(grams)


# Subword-ish lexer classes: letter runs, digit runs, single punctuation.
# Approximates a BPE pre-tokenizer's split points with a pattern that is
# identical in Java regex (Spark) and RE2 (DuckDB) so oracles match.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-pre-tokenizer-style token array (array<string>).

    ``regexp_extract_all`` is JVM-side; the token count over this array
    is the usual proxy for LLM token budgets when no vocab is loaded.
    """
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def winnow_fingerprints(text: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (array<string>, distinct).

    The standard local-fingerprinting scheme: hash every k-gram, slide a
    w-wide window over the hash sequence, keep each window's minimum —
    guarantees any match of length ≥ k+w-1 shares a fingerprint. Hashes
    are md5 hex strings compared lexicographically, which every engine
    reproduces bit-identically (the portability trick the exact-dedup
    oracle already relies on). All array ops, no UDF.
    """
    s = F.lower(text)
    n = F.length(s)
    gram_idx = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(gram_idx, lambda i: F.md5(s.substr(i, F.lit(k))))
    m = F.size(hashes)
    win_idx = F.when(
        m >= w, F.sequence(F.lit(1), m - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    mins = F.transform(win_idx, lambda j: F.array_min(F.slice(hashes, j, w)))
    return F.array_distinct(mins)


def quality_features(text: Column) -> dict[str, Column]:
    """Heuristic quality features for corpus filtering.

    Returns named columns: n_chars, n_tokens, avg_token_len, punct_ratio,
    stopword_ratio (English markers), upper_ratio. All deterministic,
    SQL-reproducible expressions.
    """
    toks = tokenize(text)
    n_chars = F.length(text).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", "")).cast("long")
    en_words = list(LANG_MARKERS["en"])
    stop = F.size(F.filter(toks, lambda t: t.isin(*en_words))).cast("long")
    n_upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", "")).cast("long")
    safe_tokens = F.when(n_tokens > 0, n_tokens.cast("double")).otherwise(F.lit(None))
    safe_chars = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(None))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).cast(
                "double"
            )
            / safe_tokens,
            6,
        ),
        "punct_ratio": F.round(n_punct.cast("double") / safe_chars, 6),
        "stopword_ratio": F.round(stop.cast("double") / safe_tokens, 6),
        "upper_ratio": F.round(n_upper.cast("double") / safe_chars, 6),
    }


def lang_marker_counts(text: Column) -> dict[str, Column]:
    """Per-language marker-token counts over the token set."""
    toks = tokenize(text)

    def _member(words: list[str]):
        # Arity-1 lambda from a factory; plain-string isin. A defaulted 2nd
        # lambda param would be bound to the element-index Column by Spark.
        return lambda t: t.isin(*words)

    out = {}
    for lang, words in LANG_MARKERS.items():
        out[lang] = F.size(F.filter(toks, _member(list(words)))).cast("long")
    return out


def langid_guess(text: Column) -> Column:
    """Language guess = argmax of marker counts, fixed precedence en>es>fr>de>zh
    on ties, 'und' when all counts are zero. Mirrors the duckdb oracle rule.
    """
    counts = lang_marker_counts(text)
    order = list(LANG_MARKERS.keys())
    best = counts[order[0]]
    for lang in order[1:]:
        best = F.greatest(best, counts[lang])
    guess = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(order):
        guess = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(
            guess
        )
    return guess


# minimal English function-word list used by the normalization step; the
# full pipeline would plug a language-specific list in
DEFAULT_STOPWORDS = ("a", "an", "and", "are", "as", "at", "be", "by", "for",
                     "in", "is", "it", "of", "on", "or", "the", "to", "with")


def remove_stopwords(text: Column, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    """Tokens of ``text`` with stopwords removed (array<string>) — the
    normalization step before quality scoring / fingerprinting."""
    words = list(stopwords)

    def _keep(t):
        # arity-1 lambda: a defaulted 2nd param would bind the index Column
        return ~t.isin(*words)

    return F.filter(tokenize(text), _keep)


def gopher_word_stats(text: Column) -> dict[str, Column]:
    """Gopher-rule document statistics (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", appendix A1.1 quality heuristics): word count,
    mean word length, and the fraction of words containing at least one
    alphabetic character. The published filter keeps documents with
    50–100,000 words, mean word length 3–10, and ≥80% alphabetic words —
    ``passes`` applies exactly those bounds.

    All native column expressions over the whitespace tokenization
    (lowercased, so the alphabetic test is ``[a-z]``), reproducible
    bit-identically by external SQL engines. Documents with zero words get
    NULL ratios and fail ``passes``.
    """
    toks = tokenize(text)
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long")
    safe_n = F.when(n_words > 0, n_words.cast("double")).otherwise(F.lit(None))
    mean_word_len = F.round(sum_len.cast("double") / safe_n, 4)
    frac_alpha = F.round(n_alpha.cast("double") / safe_n, 4)
    passes = (
        n_words.between(50, 100000)
        & mean_word_len.between(3.0, 10.0)
        & (frac_alpha >= 0.8)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "frac_alpha_words": frac_alpha,
        "passes": F.coalesce(passes, F.lit(False)),
    }


def scrub_pii(text: Column) -> Column:
    """Redact common PII shapes: emails → <EMAIL>, 5+-digit runs → <NUM>,
    phone-like groups → <PHONE>. Pure regexp_replace chain (JVM-side,
    codegen); patterns restricted to the RE2-compatible subset so external
    engines can verify the transform byte-for-byte."""
    out = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    out = F.regexp_replace(
        out, r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}", "<PHONE>"
    )
    return F.regexp_replace(out, r"[0-9]{5,}", "<NUM>")


def chunk_udtf(chunk_tokens: int = 32, stride: int = 24):
    """Factory for a document-chunking Python UDTF (Spark 4 ``@udtf``):
    one input row (text) → one output row per overlapping token window —
    the chunking step a RAG / embedding-indexing pipeline runs before
    embedding. Chunk starts are 0, stride, 2·stride, … while < n_tokens;
    each chunk carries up to ``chunk_tokens`` tokens.

    A UDTF is row-at-a-time Python — the SLOW path; it exists here to
    cover the table-function API surface (registered via
    ``spark.udtf.register`` and consumed with LATERAL). The identical
    expansion is expressible natively (sequence + transform + slice —
    see the q124 oracle), and tests pin the two equal; production
    chunking at 100 TB should use the native form or mapInArrow.
    """
    from pyspark.sql.functions import udtf

    ct, st = int(chunk_tokens), int(stride)

    @udtf(returnType="chunk_idx int, chunk_text string, n_tokens int")
    class _Chunk:
        def eval(self, text):
            if text is None:
                return
            toks = [t for t in text.lower().strip().split() if t]
            n = len(toks)
            for idx, s in enumerate(range(0, max(n, 1), st)):
                if s >= n:
                    break
                piece = toks[s : s + ct]
                yield idx, " ".join(piece), len(piece)

    return _Chunk
