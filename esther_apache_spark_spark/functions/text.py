"""Text expressions — the reference's word-count surface, generalized.

Reference pipeline (``tutos/tuto_dataframes_pyspark(2).ipynb:404-539``):
``lower`` → ``regexp_replace('[^\\w\\s]','')`` → ``split('\\s+')`` →
``explode`` → ``filter != ''``. Shingles / n-grams extend that surface for
the dedup + text-analysis operators (SURVEY.md §7 M4) — still pure
column expressions (no UDF) so they run JVM-side at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_RE = r"[^\w\s]"
WS_RE = r"\s+"


def normalize_text(col: Column) -> Column:
    """lowercase + strip punctuation (reference F3/F4)."""
    return F.regexp_replace(F.lower(col), PUNCT_RE, "")


def tokenize(col: Column, normalize: bool = True) -> Column:
    """string -> array<string> of non-empty whitespace tokens (F2 + P10)."""
    base = normalize_text(col) if normalize else col
    toks = F.split(F.trim(base), WS_RE)
    return F.filter(toks, lambda t: t != "")


def tokenize_sql(expr: str, normalize: bool = True) -> str:
    """``tokenize`` as a SQL fragment — same expression tree, assembled
    as one string so plan-building hot paths (the LSH family builds
    inside the bench's timed region) pay one py4j round-trip instead of
    ~45 (guide §4, driver side). The regex backslashes are spelled
    ``chr(92)`` because a backslash inside a SQL string literal means
    different things under ``spark.sql.parser.escapedStringLiterals``
    true and false; ``chr(92)`` is one backslash under both, and
    Catalyst constant-folds the ``concat`` back to the plain pattern."""
    if normalize:
        punct = "concat('[^', chr(92), 'w', chr(92), 's]')"
        expr = f"regexp_replace(lower({expr}), {punct}, '')"
    return f"filter(split(trim({expr}), concat(chr(92), 's+')), t -> t != '')"


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """array<string> tokens -> array<string> of n-word shingles.

    Pure expression: ``sequence`` over start offsets + ``slice`` +
    ``array_join``. Empty array when fewer than ``n`` tokens.
    """
    k = F.lit(n)
    starts = F.sequence(F.lit(1), F.size(tokens) - k + 1)
    grams = F.transform(starts, lambda i: F.array_join(F.slice(tokens, i, k), " "))
    return F.when(F.size(tokens) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(tokens: Column, n: int = 3) -> Column:
    """array<string> tokens -> array<bigint> hashes of n-word shingles,
    WITHOUT materializing the shingle strings: each token is hashed once,
    then a shingle hash combines the n token hashes with one more
    ``xxhash64`` call. Equivalent hash family to hashing the joined
    string (what MinHash needs), at a fraction of the cost — no slice,
    no array_join, no long-string hashing. ``let`` bindings keep the
    token list and the token-hash array single-evaluation."""
    from esther_apache_spark_spark.functions.expr import let

    def with_tokens(toks: Column) -> Column:
        def with_hashes(th: Column) -> Column:
            starts = F.sequence(F.lit(0), F.size(th) - n)  # 0-based for F.get
            return F.transform(
                starts, lambda i: F.xxhash64(*[F.get(th, i + j) for j in range(n)])
            )

        grams = let(F.transform(toks, lambda t: F.xxhash64(t)), with_hashes)
        return F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<bigint>")
        )

    return let(tokens, with_tokens)


def char_ngrams(col: Column, n: int = 5) -> Column:
    """string -> array<string> of character n-grams (for Jaccard/MinHash)."""
    k = F.lit(n)
    starts = F.sequence(F.lit(1), F.length(col) - k + 1)
    grams = F.transform(starts, lambda i: F.substring(col, i, n))
    return F.when(F.length(col) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )
