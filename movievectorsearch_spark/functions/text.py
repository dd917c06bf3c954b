"""Text expression builders.

Ports of the reference's string functions (SURVEY.md §2.8) as chained
built-in expressions: the markdown cleaner (movie_generator.py:329-338),
dedup-key normalization (movie_generator.py:74), the slug id
(movie_generator.py:384), plus the tokenize/shingle primitives the
large-scale dedup and text-analysis operators are built on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_text(col: Column) -> Column:
    """Strip markdown ``**``/``*``/``_``/quotes, collapse whitespace,
    drop leading ``NN. `` numbering (reference movie_generator.py:329-338)."""
    c = F.regexp_replace(col, r"[\*_\"']", "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, r"^\d+\.\s*", "")
    return F.trim(c)


def normalize_key(col: Column) -> Column:
    """lower(trim(x)) — the reference's dedup key normalization."""
    return F.lower(F.trim(col))


def slug_id(title: Column, year: Column) -> Column:
    """``lower(title) spaces→'_' + '_' + year`` (movie_generator.py:384)."""
    return F.concat_ws(
        "_", F.regexp_replace(F.lower(title), " ", "_"), year.cast("string")
    )


def tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text → array<string>."""
    return F.filter(F.split(normalize_key(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_shingles(col: Column, n: int = 3) -> Column:
    """n-gram word shingles joined with ' ' → array<string>.

    Built as zip_with over n shifted slices, NOT per-position
    element_at: higher-order functions are interpreted (no common-
    subexpression elimination), so an element_at(toks, i+j) form
    re-tokenizes the text for every shingle position — O(len²) per
    document. The slice/zip form touches ``toks`` a constant number of
    times → linear (measured 10× on the sf0.1 corpus).
    """
    toks = tokens(col)
    m = F.size(toks) - (n - 1)
    sh = F.slice(toks, 1, m)
    for j in range(1, n):
        sh = F.zip_with(
            sh,
            F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= n, sh).otherwise(
        F.array(F.array_join(toks, " "))
    )


BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish subword-boundary tokenization: letter runs, digit runs,
    and single punctuation marks over lowercased text — the token-count
    heuristic a pretraining pipeline uses when the real tokenizer is
    too expensive for a scan."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_PATTERN), F.lit(0))


# ---- DuckDB mirrors --------------------------------------------------------

def tokens_sql(expr: str) -> str:
    """DuckDB mirror of :func:`tokens`. Java's ``\\s`` is the ASCII class
    ``[ \\t\\n\\x0B\\f\\r]``; RE2's ``\\s`` omits VT, so the class is
    spelled out. Spark's ``trim`` strips only ' ', where DuckDB's default
    also strips NBSP and the other Unicode space separators."""
    return (
        f"list_filter(string_split_regex(lower(trim({expr}, ' ')), "
        f"'[ \\t\\n\\v\\f\\r]+'), t -> t <> '')"
    )


def bpe_tokens_sql(expr: str) -> str:
    """DuckDB mirror of :func:`bpe_tokens`."""
    return f"regexp_extract_all(lower({expr}), '{BPE_PATTERN}')"


def shingles_sql(expr: str, n: int = 3) -> str:
    """DuckDB mirror of :func:`word_shingles`. ``expr`` should be a
    simple column reference (it is inlined several times)."""
    toks = tokens_sql(expr)
    parts = " || ' ' || ".join(f"({toks})[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), i -> {parts}) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )
