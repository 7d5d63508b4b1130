"""Text-analysis column functions for the webtext pipeline — all pure
``pyspark.sql.functions`` column math (JVM-side, codegen), no UDFs.

These are the building blocks for the training-data operators the engine
adds beyond the reference: token counting, n-gram shingling, stopword-based
language ID, and quality scoring. Every formula is also expressible in
ANSI SQL so driver oracles can verify it 1:1.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space convention of the corpus)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def _starts(count: Column) -> Column:
    """1..count; empty when count < 1, where sequence(1, count) descends."""
    return F.array_remove(F.sequence(F.lit(0), F.greatest(count, F.lit(0))), 0)


def shingle_array(toks: Column, n: int = 3) -> Column:
    """n-word shingles from an ALREADY-MATERIALIZED token-array column.

    Hot paths must project the token array in a separate select and pass
    the attribute here: expressions referenced inside a higher-order
    lambda are re-evaluated per element, so inlining ``split(text)`` into
    the ``slice`` re-tokenizes the document once per shingle —
    O(n_words²) string work (measured 8× wall on 90-word docs at 50 k
    rows). An attribute reference per element is a cheap row-field read."""
    idx = _starts(F.size(toks) - F.lit(n - 1))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles joined by spaces; empty array when the doc
    has fewer than n tokens. NOTE: inlines the tokenizer into the shingle
    lambda — fine for small inputs/oracle twins; hot paths should
    materialize ``tokens(text)`` and call :func:`shingle_array`."""
    return shingle_array(tokens(text), n)


def char_ngrams(text: Column, n: int = 8) -> Column:
    """Array of n-character substrings; empty when text is shorter than n."""
    idx = _starts(F.length(text) - F.lit(n - 1))
    return F.transform(idx, lambda i: F.substring(text, i, n))


def occurrence_count(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of ``needle`` via length arithmetic
    (exactly reproducible in SQL: (len(t) - len(replace(t, s, ''))) / len(s))."""
    return ((F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))).cast("int")


# stopword markers per language (padded to avoid substring hits)
LANG_MARKERS = {"en": " the ", "de": " der ", "fr": " le ", "es": " el ", "pt": " de "}


def lang_guess(text: Column) -> Column:
    """Heuristic language ID: the language whose marker stopword occurs most
    (first-wins ties in LANG_MARKERS order, 'und' when all zero)."""
    counts = {lang: occurrence_count(text, marker) for lang, marker in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    out = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals (length/punctuation/token ratios)."""
    n_chars = F.length(text)
    n_tokens = token_count(text)
    n_spaces = occurrence_count(text, " ")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.round((n_chars - n_spaces) / n_tokens, 6),
        "stop_ratio": F.round(occurrence_count(text, " the ") / n_tokens, 6),
    }


def rolling_fingerprint(text: Column, prefix_len: int = 64) -> Column:
    """Document fingerprint: crc32 of the first/last ``prefix_len`` chars +
    length — a cheap boilerplate-robust identity key."""
    head = F.substring(text, 1, prefix_len)
    tail = F.substring(F.reverse(text), 1, prefix_len)
    return F.concat_ws(":", F.crc32(F.encode(head, "UTF-8")).cast("string"),
                       F.crc32(F.encode(tail, "UTF-8")).cast("string"),
                       F.length(text).cast("string"))
