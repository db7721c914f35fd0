"""Text column expressions — tokenization, shingles, quality signals,
fingerprints. All built-in ``pyspark.sql.functions`` (JVM-side); every
expression has an exact ANSI-SQL twin used by the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker/stopword sets for the language-ID heuristic and stopword-ratio
# quality signal. Deterministic heuristic — the oracle replays it in SQL.
STOPWORDS_EN = ["the", "a", "an", "of", "to", "in", "and", "is", "for", "on"]

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization: split on runs of whitespace after trim."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer, restricted to constructs Java regex and RE2
# (DuckDB) evaluate identically: contraction suffixes, space-prefixed
# letter/digit runs, space-prefixed punctuation runs, whitespace runs. The
# original's `\s+(?!\S)` lookahead is RE2-incompatible and only affects
# how trailing-vs-interior whitespace splits, which a COUNT cannot see.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: number of pre-tokenizer segments — the
    standard quick estimate of LLM token cost (actual BPE merges only
    split segments further, so this lower-bounds and tracks the real
    count). One JVM regexp pass, no UDF."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), 0))


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles joined with single spaces — the unit for n-gram
    Jaccard / MinHash. Array expression, no explode until the caller needs
    the inverted index.

    Built as a zip_with chain over k shifted views of the token array
    (``zip(toks, toks[2:], toks[3:], ...)``), NOT as
    ``transform(sequence(1, n-k+1), i -> slice(toks, i, k))``: in that
    shape ``toks`` sits inside the lambda body, and higher-order-function
    bodies re-evaluate embedded expressions per element — the regex split
    would run once per shingle POSITION (~n× per row; measured 10× slower
    at sf0.1). Here every ``toks`` occurrence is an array-argument
    evaluated once per row. ``concat_ws`` skips the nulls that zip_with
    pads onto the shorter shifted views, which reproduces the truncated
    final shingle for docs shorter than k tokens."""
    toks = tokens(text)
    n = F.size(toks)
    joined = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        joined = F.zip_with(joined, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(joined, 1, F.greatest(n - (k - 1), F.lit(1)))


def char_shingles(text: Column, k: int = 12) -> Column:
    """k-character shingles (for fingerprinting / char-level similarity).

    NULL text → NULL array (not ``[NULL]``): ``length(NULL)`` is NULL, so
    the grid ``greatest(NULL-(k-1), 1)`` would collapse to 1 and emit one
    phantom ``substring(NULL, 1, k) = NULL`` gram — the same latent
    null-text divergence class ADVICE r9 caught in the 8-gram hasher
    (an oracle's explode/unnest drops the row instead). The guard keeps
    every downstream (``doc_fingerprint``'s array_min, ``gram_hashes``,
    winnowing, explodes) on "no gram stream" for null docs, matching
    ``word_shingles``' null contract."""
    n = F.length(text)
    return F.when(
        text.isNotNull(),
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.substring(text, i, k),
        ),
    )


def punct_ratio(text: Column) -> Column:
    cleaned = F.regexp_replace(text, PUNCT_CLASS, "")
    return (F.length(text) - F.length(cleaned)) / F.greatest(F.length(text), F.lit(1))


def stopword_count(text: Column) -> Column:
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit counts per language (occurrence counts, dups kept)."""
    toks = tokens(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        ms = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(ms, t)))
    return out


def lang_id(text: Column) -> Column:
    """argmax language by marker hits; 'und' (undetermined) when all zero;
    ties break by the fixed language order in LANG_MARKERS."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_MARKERS:  # insertion order = deterministic tie order
        s = scores[lang]
        take = s > best_score  # strict: earlier langs win ties
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def doc_fingerprint(text: Column) -> Column:
    """Document fingerprint: minimum md5 over the 16-char shingle set (a
    1-permutation MinHash). Near-identical documents collide; md5 keeps the
    value engine-portable (DuckDB computes the identical digest)."""
    return F.array_min(F.transform(char_shingles(text, 16), F.md5))


def gram_hashes(text: Column, k: int = 8) -> Column:
    """Per-document k-gram hash stream: the 60-bit md5 prefix of every
    k-char gram, mod 1e9+7 (engine-portable — DuckDB computes the
    identical digest; the modulus keeps downstream SUMS inside BIGINT).
    Documents shorter than k hash their whole text (the
    ``char_shingles`` truncated-gram convention)."""
    return F.transform(
        char_shingles(text, k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % F.lit(1_000_000_007),
    )


def winnow_from_hashes(hashes: Column, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm) over a PRE-HOISTED gram-hash array: keep the MINIMUM of
    each w-wide window of consecutive hashes — the classic guarantee
    that any shared substring of length ≥ k+w−1 yields a shared
    fingerprint, at ~1/w the density of the full gram set. Fewer than w
    hashes → one fingerprint (min of all). Returns the DISTINCT
    fingerprints, sorted, entirely in codegen'd HOFs.

    ``hashes`` MUST be a materialized column (``withColumn`` the
    ``gram_hashes`` result first), never the gram-hash expression
    inlined: lambda scopes block common-subexpression elimination, so an
    inlined stream re-computes EVERY md5 once per window — O(n·w) md5
    calls became O(n²) and turned a sub-second scan into minutes at
    sf0.001 (repo hoisting doctrine, measured here too)."""
    n_win = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
    n = F.size(hashes)

    def win_min(j):
        # least() over w element_at probes instead of array_min(slice()):
        # slice allocates a w-element array PER WINDOW (~10M allocations
        # at sf0.1 — measured as the row's dominant cost); element_at is
        # an O(1) read. Past-the-end probes (the short-array tail where
        # n_win = 1 > n - w + 1) fall back to the last element, which
        # cannot change the min of the in-range prefix.
        probes = [
            F.element_at(hashes, F.least(j + F.lit(i), n)) for i in range(w)
        ]
        return F.least(*probes)

    sel = F.transform(F.sequence(F.lit(1), n_win), win_min)
    return F.array_sort(F.array_distinct(sel))


def quality_struct(text: Column) -> dict[str, Column]:
    """The quality-scoring bundle: each signal as a named column expr."""
    n_tok = token_count(text)
    n_char = F.length(text)
    # Plain int/int double divisions are bitwise-deterministic IEEE — no
    # rounding needed for oracle parity (unlike accumulated sums).
    return {
        "n_chars_actual": n_char,
        "n_tokens": n_tok,
        "avg_token_len": (n_char - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)),
        "punct_ratio": punct_ratio(text),
        "stopword_ratio": stopword_count(text) / F.greatest(n_tok, F.lit(1)),
        "uniq_token_ratio": F.size(F.array_distinct(tokens(text)))
        / F.greatest(n_tok, F.lit(1)),
    }
