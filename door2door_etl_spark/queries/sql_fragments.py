"""Shared DuckDB-SQL fragments mirroring the engine's portable primitives.

Every operator in operators/{text,dedup,similarity}.py is written against a
"portable contract" (tokenizer regex, sha256/md5 hashes, double-precision
array math).  These helpers emit the DuckDB side of that contract so the
oracle SQL in the catalog stays readable and provably symmetric with the
Spark expressions.
"""

from __future__ import annotations

# Tokenizer contract (operators.text.TOKEN_SPLIT_REGEX).
def sql_tokens(col: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), "
        f"x -> x != '')"
    )


def sql_shingles(col: str, n: int) -> str:
    """Word n-gram shingles; mirrors operators.text.shingles (same count and
    same space-joined rendering, degenerate short docs collapse to one
    whole-doc shingle)."""
    toks = sql_tokens(col)
    return (
        f"(CASE WHEN len({toks}) >= {n} "
        f"THEN list_transform(generate_series(1, len({toks}) - {n} + 1), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


def sql_dot(a: str, b: str) -> str:
    """Inner product in double (mirrors operators.similarity.dot)."""
    return (
        f"list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), "
        f"list_transform({b}, x -> CAST(x AS DOUBLE)))"
    )


def sql_norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)})"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"


def sql_uniform_hash(expr: str, salt: str) -> str:
    """DuckDB side of operators.sketches.uniform_hash: the portable uniform
    deviate u(x) = int(substr(sha256(x || salt), 1, 13), 16) / 2^52.
    13 hex digits = 52 bits, so both the integer and the division are exact
    in a double — bit-identical to the Spark expression."""
    return (
        f"(CAST(CAST(concat('0x', substr(sha256(CAST({expr} AS VARCHAR) "
        f"|| '{salt}'), 1, 13)) AS BIGINT) AS DOUBLE) / 4503599627370496.0)"
    )


def sql_h52(expr: str, salt: str) -> str:
    """DuckDB side of operators.sketches._h52: the raw 52-bit integer hash
    (same contract as sql_uniform_hash without the [0,1) scaling) — the
    building block for HLL bucket/rank splits and CMS column indexing."""
    return (
        f"CAST(concat('0x', substr(sha256(CAST({expr} AS VARCHAR) "
        f"|| '{salt}'), 1, 13)) AS BIGINT)"
    )


def dec_sum(expr: str, alias: str, scale: int = 2) -> str:
    """Deterministic money-sum: per-row cast to DECIMAL(20,6) (exact sum,
    no float accumulation-order drift), then double + round for a stable
    final dtype.  The Spark twin is queries.catalog.dsum."""
    return (
        f"round(CAST(sum(CAST({expr} AS DECIMAL(20,6))) AS DOUBLE), {scale}) "
        f"AS {alias}"
    )


def sql_lang_hits(toks_expr: str) -> dict[str, str]:
    """Per-language stopword hit-count expressions over an already-bound
    token list — the ONE DuckDB rendering of text.LANG_STOPWORDS, shared
    by every oracle that predicts a language (text-features, langid
    confusion, mixed-language segments).  Keys arrive lang-sorted, which
    is what makes the downstream CASE tie-break alphabetical, matching
    text._argmax_language."""
    from door2door_etl_spark.operators.text import LANG_STOPWORDS

    return {
        lang: (
            f"len(list_filter({toks_expr}, t2 -> t2 IN "
            f"({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in sorted(LANG_STOPWORDS.items())
    }


def sql_lang_pred(toks_expr: str) -> str:
    """Full inline stopword-argmax prediction (ties alphabetical, zero
    hits -> 'und') — for oracles that cannot bind ``best`` in a CTE."""
    hits = sql_lang_hits(toks_expr)
    best = f"greatest({', '.join(hits.values())})"
    case = " ".join(
        f"WHEN {expr} = {best} THEN '{lang}'" for lang, expr in hits.items()
    )
    return f"(CASE WHEN {best} > 0 THEN (CASE {case} END) ELSE 'und' END)"
