"""Text-analysis operators over a document corpus (north-star pack).

Everything here is pure built-in ``pyspark.sql.functions`` — no Python UDFs —
so plans stay inside whole-stage codegen and scale linearly with executors;
the one exception is :func:`bpe_encode`, an Arrow-batched ``mapInPandas``
stage.
Each operator has an exactly-equivalent ANSI-SQL formulation (used by the
DuckDB oracle, see queries.catalog), which is why the primitives below are
deliberately "portable" (regexp tokenization, md5/sha256 hashes, arithmetic
on hex nibbles) rather than JVM-specific hashes like xxhash64.

Operators:
- tokenization + token counting (whitespace/punctuation regex, BPE-ish
  subword count estimate);
- quality scoring (length, punctuation ratio, stopword ratio, mean word
  length) — the standard cheap heuristics used to filter LLM training text;
- language identification, two heuristics sharing one argmax shape: token
  stopword hit rates, and a char-bigram profile scorer (Cavnar-Trenkle
  style) that needs no word boundaries — both deterministic and
  SQL-expressible;
- document fingerprinting: min-hash over word shingles (winnowing-style
  "rarest shingle" fingerprint);
- BPE tokenizer induction and encoding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from door2door_etl_spark.operators import local

#: Tokenizer contract shared with the oracle SQL: lowercase, split on runs of
#: non-alphanumerics, drop empty tokens.
TOKEN_SPLIT_REGEX = "[^a-z0-9]+"

#: Tiny per-language stopword lists for the heuristic language scorer.  The
#: lists only need to be deterministic and disjoint-ish, not linguistically
#: exhaustive — swap for real lists (or a char-trigram profile) in production.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"],
    "zh": ["de", "shi", "bu", "le", "wo", "you", "zai", "ta", "men", "zhe"],
}


def tokens(col: Column) -> Column:
    """``array<string>`` of normalized tokens (shared contract with oracle)."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_REGEX), lambda x: x != F.lit("")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def subword_count_estimate(col: Column) -> Column:
    """BPE-ish token-count estimate without a vocabulary: count word pieces of
    up to 4 chars — ``sum(ceil(len(word)/4))`` — a standard cheap proxy for
    LLM token budgeting (≈ chars/4 but word-boundary aware)."""
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )


def char_stats(col: Column) -> dict[str, Column]:
    """Character-level quality signals."""
    n_chars = F.length(col)
    n_alpha = F.length(F.regexp_replace(F.lower(col), "[^a-z]", ""))
    n_digit = F.length(F.regexp_replace(col, "[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(col, "[^.,;:!?'\"()-]", ""))
    n_space = F.length(F.regexp_replace(col, "[^ \\t\\n]", ""))
    return {
        "n_chars": n_chars,
        "n_alpha": n_alpha,
        "n_digit": n_digit,
        "n_punct": n_punct,
        "n_space": n_space,
    }


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English, by default) stopwords."""
    words = stopwords if stopwords is not None else LANG_STOPWORDS["en"]
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(words)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def mean_word_length(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w).cast("long")
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic for training-data filtering.

    score = 0.25*len_ok + 0.25*alpha_ratio + 0.25*(1-punct_ratio_excess)
            + 0.25*word_len_ok
    where len_ok rewards 100-10000 chars, alpha_ratio is alphabetic density,
    punct excess penalizes >10% punctuation, word_len_ok rewards mean word
    length in [3, 12].  Deterministic, portable, vectorized.
    """
    stats = char_stats(col)
    n = stats["n_chars"]
    len_ok = F.when((n >= 100) & (n <= 10000), F.lit(1.0)).otherwise(
        F.when(n < 100, n / F.lit(100.0)).otherwise(F.lit(10000.0) / n)
    )
    alpha_ratio = F.when(n > 0, stats["n_alpha"] / n).otherwise(F.lit(0.0))
    punct_ratio = F.when(n > 0, stats["n_punct"] / n).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.1, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - (punct_ratio - F.lit(0.1)) * F.lit(5.0))
    )
    mwl = mean_word_length(col)
    word_len_ok = F.when((mwl >= 3.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * alpha_ratio
        + F.lit(0.25) * punct_ok
        + F.lit(0.25) * word_len_ok
    )


def language_scores(col: Column) -> list[tuple[str, Column]]:
    """Per-language stopword hit-count; input to :func:`predict_language`."""
    toks = tokens(col)
    out = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        out.append((lang, F.size(F.filter(toks, lambda t: t.isin(words)))))
    return out


def _argmax_language(scores: list[tuple[str, Column]]) -> Column:
    """Shared argmax/tie-break fold for every language scorer: highest score
    wins, ties break alphabetically (scores arrive lang-sorted), zero total
    -> 'und' (undetermined)."""
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # reversed so that alphabetically-first language wins ties
    for lang, score in reversed(scores):
        pred = F.when((best > 0) & (score == best), F.lit(lang)).otherwise(pred)
    return pred


def predict_language(col: Column) -> Column:
    """Argmax language by stopword hits; ties break alphabetically; zero hits
    -> 'und' (undetermined).  Deterministic and SQL-portable."""
    return _argmax_language(language_scores(col))


def shingles(col: Column, n: int = 5) -> Column:
    """Word ``n``-gram shingles as an array of space-joined strings.

    Implemented with sequence+transform over the token array (no explode →
    no row blow-up until the caller chooses to).

    The token array is BOUND ONCE via a single-element ``transform`` lambda:
    referencing the tokens expression directly inside the per-shingle lambda
    re-evaluates the whole split/filter per shingle (Catalyst does not CSE
    through lambda bodies), which is O(tokens²) per document — measured as
    the dominant cost of every shingle-based operator at sf0.1."""

    return F.transform(
        F.array(tokens(col)), lambda toks: shingles_from_tokens(toks, n)
    )[0]


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Shingle construction from an ALREADY-materialized token array —
    the building block :func:`shingles` binds its tokens into, exposed so
    callers that need both tokens and shingles derive them from ONE
    tokenize (the tokenizer regex is the dominant cost of every
    shingle-based operator)."""
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - F.lit(n), F.lit(0)))
    return F.when(
        k >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def fingerprint(col: Column, n: int = 5) -> Column:
    """Winnowing-style document fingerprint: lexicographic min of
    ``sha256(shingle)`` — stable under shingle reordering, portable to SQL
    (string MIN over the same hashes)."""
    hashed = F.transform(shingles(col, n), lambda s: F.sha2(s, 256))
    return F.array_min(hashed)


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals, one row per doc:

    - ``top_bigram_frac``: share of the document's word-bigram occurrences
      taken by its single most frequent bigram;
    - ``dup_trigram_frac``: share of word-trigram occurrences whose trigram
      appears more than once in the document.

    These are the standard "remove boilerplate / degenerate repetition"
    quality filters for LLM training corpora (Gopher §A1.1-style rules).

    Scale shape: one explode (bigrams and trigrams tagged in the same array,
    so the document text is scanned once), one shuffle to count grams within
    each ``(doc, n, gram)``, and one shuffle down to per-doc signals via
    conditional aggregates — no joins, no windows.  Gram counts are exact
    integers and each fraction is a single integer→double division, so the
    result is bit-identical across engines."""

    from door2door_etl_spark.io.readers import widen_if_narrow

    docs = widen_if_narrow(docs)

    def tag(n: int) -> Column:
        return F.transform(
            shingles(F.col(text_col), n),
            lambda s: F.struct(F.lit(n).alias("n"), s.alias("gram")),
        )

    grams = docs.select(
        id_col, F.explode(F.concat(tag(2), tag(3))).alias("g")
    ).select(id_col, F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    counts = grams.groupBy(id_col, "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    is2, is3 = F.col("n") == 2, F.col("n") == 3
    cnt = F.col("cnt")
    return counts.groupBy(id_col).agg(
        F.round(
            F.max(F.when(is2, cnt)).cast("double")
            / F.sum(F.when(is2, cnt)).cast("double"),
            6,
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce(F.sum(F.when(is3 & (cnt > 1), cnt)), F.lit(0)).cast("double")
            / F.sum(F.when(is3, cnt)).cast("double"),
            6,
        ).alias("dup_trigram_frac"),
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram Shannon entropy (bits/token) — the standard
    "information density" quality signal for LLM training text (low entropy =
    repetitive/templated, high = diverse vocabulary).

    Uses the identity H = log2(T) - (Σ c·log2 c)/T over per-token counts c
    with T = Σ c, so ONE explode and two doc-keyed aggregations suffice —
    no per-doc total needs to be joined back.  Each Σ term is quantized to
    DECIMAL(28,10) before the exact sum, making the result independent of
    partial-aggregation order (bit-identical across partitionings and
    engines; same discipline as queries.defs.dsum).

    Scale: shuffles carry (id, token-hash-sized) keys and pre-aggregated
    counts (map-side combine applies); nothing is collected.  NOT
    width-normalized: the per-row work is one tokenize (no hashing), so
    the widen shuffle costs about what it saves (measured 1.5× WORSE
    with the guard at sf0.1) — the first groupBy spreads the load.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    c = F.col("cnt").cast("double")
    term = (c * F.log2(c)).cast("decimal(28,10)")
    agg = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(term).cast("double").alias("_s"),
    )
    t = F.col("n_tokens").cast("double")
    return agg.select(
        id_col,
        "n_tokens",
        "distinct_tokens",
        F.round(F.log2(t) - F.col("_s") / t, 6).alias("entropy_bits"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    lowercase: bool = False,
) -> DataFrame:
    """Canonicalize raw text for downstream dedup/tokenization: strip ASCII
    control characters (each becomes a space so token boundaries survive),
    collapse whitespace runs to single spaces, trim, optionally lowercase.

    Scraped corpora carry NUL/escape/CR artifacts that make byte-identical
    content hash differently and split tokens; running this BEFORE exact
    dedup and shingling is standard corpus hygiene.  Pure regexp_replace
    chain — JVM-side, codegen'd, map-only, zero shuffle; both regexes use
    only portable syntax (explicit \\x ranges, \\s) so the DuckDB oracle
    reproduces the result byte-for-byte.  (Unicode NFC normalization needs
    a UDF/ICU and is intentionally out of scope here.)
    """
    cleaned = F.regexp_replace(F.col(text_col), r"[\x00-\x1F\x7F]", " ")
    collapsed = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    if lowercase:
        collapsed = F.lower(collapsed)
    return df.withColumn(out_col, collapsed)


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean log2-probability under a SELF-TRAINED corpus
    unigram model — the in-engine stand-in for the KenLM perplexity filter
    (CCNet-style): very negative = rare/unusual vocabulary, near zero =
    common filler.  Training and scoring are one lazy plan over the same
    corpus; no external model ships.

    Identity: mean log2 p = (Σ_instances log2 c(tok))/T_doc − log2(C_total),
    so the corpus total joins in as ONE broadcast scalar instead of a
    per-token denominator.  The Σ term is quantized to DECIMAL(28,10)
    before the exact sum (summation-order independent — bit-identical
    across partitionings and engines, same discipline as token_entropy).

    Scale: two token-keyed aggregations (map-side combine) + one join of
    doc-token counts against the vocabulary (token-keyed shuffle, bounded
    by vocabulary size, uniform by construction) — nothing collected.
    NOT width-normalized: the token relation feeds two aggregations
    UNPERSISTED, so a widen repartition would run once per consumer and
    the per-row work is one tokenize (no hashing) — the guard measured
    net-negative on this shape (token_entropy's twin: 1.5× worse).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    corpus_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_corpus"))
    total = corpus_counts.agg(
        F.log2(F.sum("c_corpus").cast("double")).alias("_log2_total")
    )
    doc_counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    term = (
        F.col("cnt").cast("double") * F.log2(F.col("c_corpus").cast("double"))
    ).cast("decimal(28,10)")
    agg = (
        doc_counts.join(corpus_counts, "tok")
        .groupBy(id_col)
        .agg(F.sum("cnt").alias("n_tokens"), F.sum(term).cast("double").alias("_s"))
    )
    return agg.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        F.round(
            F.col("_s") / F.col("n_tokens").cast("double") - F.col("_log2_total"), 6
        ).alias("unigram_log2p"),
    )


def bigram_backoff_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    min_count: int = 2,
) -> DataFrame:
    """Per-document mean log2-probability under a SELF-TRAINED bigram
    Stupid-Backoff model (Brants et al., EMNLP '07) — one order up from
    :func:`unigram_logprob` toward the KenLM filter CCNet actually runs.

    Score(w_i | w_{i-1}) = c(w_{i-1} w_i)/c(w_{i-1}) when the bigram
    survives count-cutoff pruning (``c >= min_count`` — the same pruning
    large-scale LM training applies, and what makes backoff REAL on a
    self-trained corpus: singleton bigrams fall back), else
    ``alpha * c(w_i)/C``.  The document's first token scores as a plain
    unigram ``c(w_1)/C``; the mean is over all T tokens.

    Scale: the token relation is built once and persisted (three
    consumers: unigram counts, bigram counts, doc scoring); all model
    relations are token/bigram-keyed aggregations with map-side combine,
    bounded by vocabulary size; doc scoring joins doc-bigram COUNTS (not
    instances) against the pruned model; the corpus total joins as one
    broadcast scalar.  Per-term DECIMAL(28,10) quantization before the
    sum keeps the result bit-stable across partitionings and engines.
    """
    from pyspark.storagelevel import StorageLevel

    from door2door_etl_spark.io.readers import widen_if_narrow

    docs = (
        widen_if_narrow(df)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
        .filter(F.size("_t") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = F.size("_t")
    pairs = F.zip_with(
        F.slice(F.col("_t"), 1, n - 1),
        F.expr("slice(_t, 2, size(_t) - 1)"),
        lambda x, y: F.concat_ws("\x1f", x, y),
    )
    toks = docs.select(F.col(id_col), F.explode("_t").alias("tok"))
    # Vocab-sized and hit by five consumers (ctx join, backoff join, first
    # tokens, corpus total) — persist so the token-explode aggregation runs
    # once, not per consumer.
    uni = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_uni"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = uni.agg(
        F.log2(F.sum("c_uni").cast("double")).alias("_log2_c")
    )
    bigr = docs.select(F.col(id_col), F.explode(pairs).alias("big"))
    model = (
        bigr.groupBy("big")
        .agg(F.count(F.lit(1)).alias("c_big"))
        .filter(F.col("c_big") >= min_count)
    )
    doc_big = bigr.groupBy(id_col, "big").agg(F.count(F.lit(1)).alias("cnt"))
    split = F.split(F.col("big"), "\x1f", 2)
    scored = (
        doc_big.join(model, "big", "left")
        .withColumn("_x", split.getItem(0))
        .withColumn("_y", split.getItem(1))
        .join(uni.select(F.col("tok").alias("_x"), F.col("c_uni").alias("c_ctx")), "_x")
        .join(uni.select(F.col("tok").alias("_y"), F.col("c_uni").alias("c_y")), "_y")
    )
    term = (
        F.col("cnt").cast("double")
        * F.when(
            F.col("c_big").isNotNull(),
            F.log2(F.col("c_big").cast("double"))
            - F.log2(F.col("c_ctx").cast("double")),
        ).otherwise(
            F.lit(float(math.log2(alpha)))
            + F.log2(F.col("c_y").cast("double"))
            - F.col("_log2_c")
        )
    ).cast("decimal(28,10)")
    big_terms = (
        scored.crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(F.sum(term).alias("_s_big"))
    )
    firsts = (
        docs.select(
            F.col(id_col),
            F.col("_t").getItem(0).alias("tok"),
            n.cast("long").alias("n_tokens"),
        )
        .join(uni, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "n_tokens",
            (F.log2(F.col("c_uni").cast("double")) - F.col("_log2_c"))
            .cast("decimal(28,10)")
            .alias("_s_first"),
        )
    )
    return (
        firsts.join(big_terms, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.round(
                (
                    F.col("_s_first")
                    + F.coalesce(F.col("_s_big"), F.lit(0).cast("decimal(28,10)"))
                ).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("bigram_log2p"),
        )
    )


def cross_doc_duplicated_shingle_fraction(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Per-document fraction of distinct word ``n``-grams that also occur in
    at least ``min_df - 1`` OTHER documents — the cross-document duplicate-
    text signal used to find boilerplate/templated content in web corpora
    (documents with a high fraction are near-copies or heavy-template pages;
    complements operators.dedup which finds the *pairs*).

    Plan: explode per-doc DISTINCT shingles hashed to 52-bit longs map-side
    (8-byte shuffle keys, never the n-gram strings), aggregate global
    document frequency per hash, join back, and aggregate per doc — three
    shuffles over the hashed relation, no self-join, no pair materialization.
    The document-frequency side is a full aggregate, deliberately NOT
    broadcast: at corpus scale it exceeds driver memory, and the sort-merge
    join on an 8-byte key is the durable plan.
    """
    from door2door_etl_spark.io.readers import widen_if_narrow

    df = widen_if_narrow(df)
    h = F.sha2(F.col("s"), 256)
    h52 = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("s"),
    ).select(F.col(id_col), h52.alias("sh"))
    sh = sh.distinct()  # distinct-by-hash: collisions collapse identically in SQL
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("doc_freq"))
    joined = sh.join(dfreq, "sh")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("doc_freq") >= min_df).cast("long")).alias("n_duplicated"),
        F.round(
            F.sum((F.col("doc_freq") >= min_df).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("dup_frac"),
    )


#: PII detection patterns — conservative regex syntax (character classes,
#: bounded repetition only) that parses identically under Java regex (Spark)
#: and RE2 (DuckDB/Go), so the oracle can run the same patterns verbatim.
#: Order matters and is fixed: email first (its local part can contain
#: digits/dots an ipv4 pattern would nibble), then phone, then ipv4.
# DEMO/PARITY patterns, NOT production PII coverage.  They are kept simple
# and portable so the DuckDB oracle reproduces them byte-for-byte: the ipv4
# regex accepts invalid octets ('999.999.999.999') and version-like strings
# in prose; the phone regex matches only the one '+CC NNN NNN NNNN' spaced
# format.  A real scrub pass must supply vetted, locale-aware patterns (or
# an NER pass) via redact_pii(patterns=...) — the operator's PLAN (map-only
# regexp_count/replace, zero shuffle) is the production part, these
# defaults are not.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{1,3} [0-9]{3} [0-9]{3} [0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement: str = "[PII]",
    out_col: str = "redacted",
) -> DataFrame:
    """Scrub PII-shaped spans from ``text_col``: appends one ``n_<class>``
    match-count column per pattern class and ``out_col`` with every match
    replaced by ``replacement`` (classes applied in dict order).

    Pure regexp_count/regexp_replace expressions — JVM-side, codegen'd,
    map-only (zero shuffles); the production shape for a 100 TB scrub pass
    — with the caveat that the default :data:`PII_PATTERNS` are demo/parity
    patterns only (see their docstring); production callers supply vetted
    ``patterns``.
    Counts are computed per class against the ORIGINAL text (overlapping
    classes each report their own matches); the redaction itself applies
    sequentially, so a span consumed by an earlier class cannot be
    re-replaced by a later one.
    """
    pats = patterns or PII_PATTERNS
    out = df
    redacted = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
        redacted = F.regexp_replace(redacted, pat, replacement)
    return out.withColumn(out_col, redacted)


def char_bigram_profiles() -> dict[str, list[str]]:
    """Characteristic character bigrams per language, derived
    deterministically from the same tiny stopword lexicon (the inner
    bigrams of each stopword, first-seen order).  In production the
    profiles come from a corpus rank list (Cavnar–Trenkle n-gram
    profiling); the derivation here keeps the operator self-contained and
    bit-reproducible in both engines."""
    out: dict[str, list[str]] = {}
    for lang, words in sorted(LANG_STOPWORDS.items()):
        seen: list[str] = []
        for w in words:
            for i in range(len(w) - 1):
                bg = w[i : i + 2]
                if not bg.isalpha():
                    # profile bigrams are interpolated into single-quoted
                    # SQL literals by the oracle builder — keep them safe
                    raise ValueError(f"non-alphabetic profile bigram {bg!r}")
                if bg not in seen:
                    seen.append(bg)
        out[lang] = seen
    return out


def charngram_language_scores(col: Column) -> list[tuple[str, Column]]:
    """Per-language character-bigram occurrence mass: for each language,
    the summed occurrence count of its profile bigrams in the lowercased
    text (each count via the length-difference of a literal replace — pure
    codegen string ops, no tokenization, no regex).  The n-gram heuristic
    complements the token-level stopword scorer: it needs no word
    boundaries, so it degrades gracefully on unsegmented/agglutinative
    text where tokenization fails."""
    t = F.lower(col)
    out = []
    for lang, profile in char_bigram_profiles().items():
        score = None
        for bg in profile:
            term = F.length(t) - F.length(F.replace(t, F.lit(bg), F.lit("")))
            score = term if score is None else score + term
        out.append((lang, score))
    return out


def predict_language_charngram(col: Column) -> Column:
    """Argmax language by char-bigram profile mass; same contract and
    shared tie-break fold as :func:`predict_language`."""
    return _argmax_language(charngram_language_scores(col))


# Gopher rule-based document filter (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", Table A1).
GOPHER_STOPWORDS = ["the", "a", "to", "of", "and"]


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 30,
    max_words: int = 50_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality rules: word-count bounds, mean-word-length
    bounds, alphabetic-word fraction, and a required-stopword floor, plus the
    composite ``keep`` verdict.  Thresholds follow the published Table A1
    shape (scaled to this corpus's short synthetic documents).

    Adds columns ``word_count, mean_word_len, alpha_frac, stop_hits, keep``.
    Entirely map-side higher-order array functions over the repo tokenizer
    contract — no explode, no shuffle, no Python; the 100 TB plan is a
    single scan.  Ratios are rounded BEFORE comparison so the keep verdict
    is bit-stable across engines.
    """
    toks = tokens(F.col(text_col))
    wc = F.size(toks)
    char_sum = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_len = F.round(char_sum.cast("double") / wc, 4)
    alpha = F.size(F.filter(toks, lambda x: x.rlike("^[a-z]+$")))
    alpha_frac = F.round(alpha.cast("double") / wc, 4)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*GOPHER_STOPWORDS)))
    out = (
        df.withColumn("word_count", wc)
        .withColumn("mean_word_len", mean_len)
        .withColumn("alpha_frac", alpha_frac)
        .withColumn("stop_hits", stop_hits)
    )
    keep = (
        F.col("word_count").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_len, max_mean_len)
        & (F.col("alpha_frac") >= F.lit(min_alpha_frac))
        & (F.col("stop_hits") >= F.lit(min_stop_hits))
    )
    return out.withColumn("keep", keep)


# --- BPE tokenizer induction ----------------------------------------------

#: Pairs collected per round of the distributed trainer (vocabularies
#: above ``local.MAX_BPE_VOCAB_ROWS``).
BPE_PAIR_WINDOW = 512


def _apply_merge_batch(symbols: Column, pairs: list[tuple[str, str]]) -> Column:
    """Apply a batch of pairwise SYMBOL-DISJOINT merges in ONE greedy
    left-to-right fold: the combined merge table rides as a map literal
    keyed ``left + '\\x00' + right`` (symbols are ``[a-z0-9]+``
    concatenations, so NUL never collides), and each fold step does one
    ``try_element_at`` lookup.  Because no two merges in the batch share
    a symbol, their occurrences can never overlap — one combined pass is
    exactly the composition of the per-merge greedy applications, at
    constant expression size regardless of batch width."""
    mm = F.create_map(
        *[F.lit(v) for (left, right) in pairs
          for v in (left + "\x00" + right, left + right)]
    )

    def step(acc: Column, x: Column) -> Column:
        key = F.concat_ws("\x00", F.element_at(acc, -1), x)
        return F.when(
            (F.size(acc) > 0) & F.try_element_at(mm, key).isNotNull(),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.try_element_at(mm, key)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        symbols, F.expr("CAST(array() AS array<string>)"), step
    )


def _bpe_greedy_apply(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right application of one merge: every
    non-overlapping (left, right) adjacency becomes ``left + right``."""
    merged, out, i = left + right, [], 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_rule(rank: int, left: str, right: str, cnt: int) -> dict:
    return {"rank": rank, "left": left, "right": right,
            "merged": left + right, "pair_count": int(cnt)}


def _bpe_local_train(
    word_freqs: list[tuple[list[str], int]], num_merges: int
) -> list[dict]:
    """Exact in-memory BPE merge induction over a (symbols, freq) vocab —
    the classic indexed algorithm (Sennrich ACL'16 ``learn_bpe`` shape):
    a lazy max-heap over pair counts plus an inverted pair→words index,
    so each merge reprocesses only the words that contain it.  Tie-break
    identical to the distributed rounds: count desc, then (left, right)
    lexicographic asc — the heap entry ``(-count, pair)`` IS that order.
    """
    import heapq
    from collections import Counter

    words = [list(s) for s, _ in word_freqs]
    freqs = [int(f) for _, f in word_freqs]
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for i, syms in enumerate(words):
        for p, c in Counter(zip(syms, syms[1:])).items():
            pair_counts[p] = pair_counts.get(p, 0) + c * freqs[i]
            where.setdefault(p, set()).add(i)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[dict] = []
    for rank in range(num_merges):
        best = None
        # Lazy invalidation: every count CHANGE pushed a fresh entry, so
        # the live count of every pair is somewhere in the heap; stale
        # entries simply fail the equality check and drop.
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc:
                best = (p, -negc)
                break
        if best is None:
            break
        (left, right), cnt = best
        merges.append(_merge_rule(rank, left, right, cnt))
        for i in sorted(where.get((left, right), ())):
            old_syms = words[i]
            new_syms = _bpe_greedy_apply(old_syms, left, right)
            if new_syms == old_syms:
                continue
            words[i] = new_syms
            old = Counter(zip(old_syms, old_syms[1:]))
            new = Counter(zip(new_syms, new_syms[1:]))
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if not d:
                    continue
                c2 = pair_counts.get(p, 0) + d * freqs[i]
                if c2 > 0:
                    pair_counts[p] = c2
                    heapq.heappush(heap, (-c2, p))
                else:
                    pair_counts.pop(p, None)
                if new.get(p, 0) == 0:
                    w = where.get(p)
                    if w is not None:
                        w.discard(i)
                else:
                    where.setdefault(p, set()).add(i)
        pair_counts.pop((left, right), None)
        where.pop((left, right), None)
    return merges


def bpe_train(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
) -> list[dict]:
    """Byte-pair-encoding merge induction over a corpus (Sennrich et al.,
    ACL'16) — the tokenizer-training step of an LLM data pipeline.

    One distributed pass builds the word-frequency table (the only stage
    that touches corpus-scale data: a token explode + groupBy, shuffling
    vocabulary-bounded keys).  Merge induction then runs on the
    VOCABULARY, in one of two regimes picked by the small-input gate
    (:func:`door2door_etl_spark.operators.local.rows_if_small`):

    - **vocab ≤ local.MAX_BPE_VOCAB_ROWS** (the common case — even a
      100 TB corpus holds its tokenizer-training vocab in low-GB driver
      memory): the gate's bounded collect brings the (symbols, freq)
      table to the driver ONCE and the exact indexed in-memory algorithm
      (:func:`_bpe_local_train`) runs there.  Total Spark jobs: O(1)
      regardless of ``num_merges``.

    - **vocab beyond the cap**: batched rounds.  Each round collects the
      top-``BPE_PAIR_WINDOW`` pairs by (count desc, pair asc) and accepts
      the MAXIMAL SORTED PREFIX that is pairwise symbol-disjoint, trimmed
      to counts STRICTLY above the stop boundary.  Why that is exact:
      symbol-disjoint merges have occurrence-disjoint applications, so
      accepted pairs' counts are invariant under each other; every
      changed or newly-created pair derives from a pair that interacts
      with an accepted merge, which by the prefix rule ranks at or below
      the stop row — its count is ≤ the boundary, strictly below every
      accepted count, so a one-merge-at-a-time trainer would pick the
      accepted pairs in exactly this order no matter how the interacting
      counts move.  The whole batch folds into the vocab in ONE
      combined-map pass (:func:`_apply_merge_batch`).  Degenerates to
      top-1 per round under total interaction, and always accepts at
      least the global argmax.

    Ties break deterministically (count desc, then lexicographic pair),
    so the learned merge sequence is reproducible across partitionings,
    regimes and engines.  Returns
    ``[{rank, left, right, merged, pair_count}, ...]``.
    """
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split(F.col("w"), ""))
        .select("freq", "syms")
    )
    vocab = words.coalesce(4).localCheckpoint(eager=True)
    rows = local.rows_if_small(vocab, local.MAX_BPE_VOCAB_ROWS)
    if rows is not None:
        return _bpe_local_train(
            [(list(r["syms"]), int(r["freq"])) for r in rows], num_merges
        )

    merges: list[dict] = []
    while len(merges) < num_merges:
        # sequence() inverts when size < 2 (descending step) — guard
        # single-symbol words to an empty pair list instead.
        idx = F.when(
            F.size("syms") >= 2, F.sequence(F.lit(1), F.size("syms") - 1)
        ).otherwise(F.expr("CAST(array() AS array<int>)"))
        pairs = vocab.select(
            "freq",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + F.lit(1)).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("p.l"), F.col("p.r"))
            .limit(BPE_PAIR_WINDOW)
            .collect()
        )
        if not top:
            break
        accepted: list[tuple[str, str, int]] = []
        seen_syms: set[str] = set()
        stop_cnt = None
        for row in top:
            left, right, cnt = row["p"]["l"], row["p"]["r"], int(row["cnt"])
            if left in seen_syms or right in seen_syms:
                stop_cnt = cnt
                break
            accepted.append((left, right, cnt))
            seen_syms.update((left, right, left + right))
        if stop_cnt is None:
            # Window exhausted with no interaction observed: anything
            # beyond the window counts ≤ the last collected row, so that
            # is the conservative boundary.
            stop_cnt = int(top[-1]["cnt"])
        trimmed = [a for a in accepted if a[2] > stop_cnt]
        if not trimmed:
            # The global argmax alone is always exactly sequential.
            trimmed = accepted[:1]
        trimmed = trimmed[: num_merges - len(merges)]
        for left, right, cnt in trimmed:
            merges.append(_merge_rule(len(merges), left, right, cnt))
        vocab = vocab.withColumn(
            "syms",
            _apply_merge_batch(
                F.col("syms"), [(l, r) for l, r, _ in trimmed]
            ),
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode text with a learned merge sequence in ONE Arrow-batched
    ``mapInPandas`` stage.  Adds ``out_col`` (array<string> of subword
    units, token boundaries preserved).

    The merge table rides along as a plain ``{(left, right): rank}``
    dict in the task closure (~1 MB at 30k merges), and each word is
    encoded with the canonical greedy min-rank loop (Sennrich ACL'16
    ``apply_bpe`` / GPT-2 ``bpe()`` shape): repeatedly merge all
    leftmost-non-overlapping occurrences of the lowest-ranked adjacent
    pair until none applies.  For merge lists produced by
    :func:`bpe_train` this yields the same encoding as applying the
    merges one by one in rank order; duplicate (left, right) pairs keep
    their FIRST rank.  A Catalyst fold of one expression per merge would
    grow linearly in the merge count and break Janino's method-size
    limit at real vocabulary sizes; this plan's size is constant.

    Scale: embarrassingly parallel — no shuffle, no driver state, cost
    per word independent of vocabulary size (rank lookups are O(1); the
    loop runs once per merge actually applied).  A per-batch distinct-word
    cache collapses the Zipf head, so a billion-token partition encodes
    roughly its unique-word count.

    Tokenization matches :func:`tokens` (lowercase, split on
    ``[^a-z0-9]+``); NULL text yields NULL.
    """
    import re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ranks: dict[tuple[str, str], int] = {}
    for m in merges:
        ranks.setdefault((m["left"], m["right"]), int(m["rank"]))

    out_schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(StringType()))]
    )
    token_re = re.compile(TOKEN_SPLIT_REGEX)

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) >= 2:
            best_rank = None
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best = r, (syms[i], syms[i + 1])
            if best is None:
                break
            syms = _bpe_greedy_apply(syms, *best)
        return syms

    def run(batches):
        cache: dict[str, list[str]] = {}

        def encode_text(text):
            if text is None:
                return None
            out: list[str] = []
            for word in token_re.split(text.lower()):
                if not word:
                    continue
                enc = cache.get(word)
                if enc is None:
                    enc = encode_word(word)
                    cache[word] = enc
                out.extend(enc)
            return out

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[text_col].map(encode_text)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash_fn: str = "sha256",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every character ``k``-gram of the normalized text
    (lowercased, non-alphanumerics stripped — the paper's
    whitespace-insensitivity), slide a window of ``w`` consecutive gram
    hashes, select each window's MINIMUM, and emit the distinct selected
    hashes as the document's fingerprint set.

    The winnowing guarantee: any substring match of length at least
    ``w + k - 1`` between two documents produces at least one SHARED
    fingerprint — local, position-independent overlap detection with a
    density of ~2/(w+1), the plagiarism/near-copy primitive between
    exact hashing and MinHash.

    Output: one row per distinct fingerprint, ``(id_col, fp)``.  A
    document shorter than ``k`` chars fingerprints its whole normalized
    text (one row); NULL text is treated as empty.

    Scale / shape: gram positions EXPLODE to rows and each gram hashes
    exactly once; the window minimum is a per-document sliding frame
    (``ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING``), so the only
    shuffle is one exchange keyed by ``id_col`` with partitions bounded
    by document length.  The first cut as nested array lambdas
    (``transform`` over ``slice`` over a ``transform``-built hash array)
    was measured at O(grams × window) re-evaluation — higher-order
    lambdas re-evaluate their captured expressions per element, turning
    500 sf0.01 docs into 305 s of repeated sha256; this rows+window form
    runs the same corpus in seconds.  ``hash_fn='sha256'`` is the
    engine-portable oracle twin (hex strings, lexicographic min
    identical everywhere); ``'xxhash64'`` is the production path
    (8-byte hashes, ~10x cheaper per gram, same selection structure —
    rows-only checkable, mirroring the MinHash family's twin
    convention).
    """
    from pyspark.sql import Window

    from door2door_etl_spark.io.readers import widen_if_narrow

    df = widen_if_narrow(df)
    s = F.regexp_replace(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]", ""
    )
    n_grams = F.greatest(F.length(s) - F.lit(k - 1), F.lit(1))
    # The Generate boundary materializes _s per output row, so the
    # substring/hash below reads an attribute — never re-normalizes.
    positions = df.select(
        F.col(id_col),
        s.alias("_s"),
        F.greatest(n_grams - F.lit(w - 1), F.lit(1)).alias("_nw"),
        F.posexplode(F.sequence(F.lit(1), n_grams)).alias("_i", "pos"),
    )
    gram = F.substring(F.col("_s"), F.col("pos"), k)
    # 16 hex chars = 64 bits: a quarter of the full digest's shuffle
    # bytes with the same selection structure (prefix truncation keeps
    # lexicographic order; a 64-bit prefix tie between distinct grams is
    # astronomically rare and both engines truncate identically).
    h = (
        F.xxhash64(gram).cast("string")
        if hash_fn == "xxhash64"
        else F.substring(F.sha2(gram, 256), 1, 16)
    )
    hashed = positions.select(
        F.col(id_col), F.col("pos"), F.col("_nw"), h.alias("_h")
    )
    frame = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    wins = hashed.withColumn("fp", F.min("_h").over(frame)).filter(
        F.col("pos") <= F.col("_nw")
    )
    return wins.select(id_col, "fp").distinct()


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009, the Okapi
    formulation with the +1-inside-the-log IDF that keeps scores
    non-negative): top-``k`` documents for a bag-of-terms query.

    Scale shape for a 100 TB corpus and a bounded query:

    * document length comes from ``size(tokens)`` map-side — no explode
      needed for ``|d|``;
    * the exploded token stream is filtered to the query's terms BEFORE
      any aggregation, so the only shuffled relation is
      (matching doc, query term) — O(postings of the query), never the
      corpus token stream;
    * per-term document frequencies are an aggregate of that same
      filtered relation, joined back BROADCAST (<= |query| rows), and
      the corpus-level N / avgdl scalars ride one broadcast row;
    * the final ranking is ``ORDER BY score LIMIT k`` —
      TakeOrderedAndProject, never a full sort.

    Scores are rounded to 6 decimals BEFORE ranking with ``id_col`` as
    the tie-break, so the top-k set is bit-stable across engines (the
    catalog oracle reproduces it in DuckDB from the shared tokenizer
    contract).
    """
    if not query_terms:
        raise ValueError("bm25_topk: empty query")
    from door2door_etl_spark.io.readers import widen_if_narrow

    toks = tokens(F.col(text_col))
    # ONE tokenize (width-normalized, lineage-truncated): the corpus
    # used to tokenize twice — once for the query-term postings, once
    # for the avgdl statistic.  The base keeps only (id, dl, the
    # query-filtered token occurrences), so the checkpoint is bounded
    # by the query's postings, never the corpus token stream.
    base = widen_if_narrow(docs).select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: t.isin(*query_terms)).alias("_qtoks"),
    ).localCheckpoint(eager=True)
    tok = base.select(
        F.col(id_col), F.col("dl"), F.explode("_qtoks").alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.when(F.col("dl").isNotNull(), F.col("dl"))).alias("avgdl"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def blocklist_filter(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style blocklist filtering (Raffel et al. 2020 §2.2's
    "bad words" rule, generalized to phrases): count how many DISTINCT
    blocklisted terms appear in each document on token boundaries and
    flag survivors.  Adds ``n_blocklist_hits`` (int) and ``keep``
    (hits == 0).

    Terms are normalized (lowercased, whitespace-collapsed) and grouped
    by word count; a document is matched against each length class via
    its word n-grams.  The whole match runs inside ONE Catalyst
    ``transform`` lambda binding the token array once (the module's
    standing tokenize-once discipline), with the term lists inlined as
    broadcast literal arrays — zero UDFs, zero joins, zero shuffles: at
    100 TB this is a map-only scan, and Catalyst prunes ``text_col``
    into the parquet reader alongside whatever else the plan needs.
    For blocklists too large to inline (>10⁴ terms), switch to the
    n-gram/broadcast-join shape of ``ngram_decontaminate`` — same
    semantics, term relation shipped once per executor instead of once
    per plan."""
    from collections import defaultdict

    by_n: dict[int, list[str]] = defaultdict(list)
    for t in terms:
        norm = " ".join(t.lower().split())
        if norm:
            by_n[len(norm.split())].append(norm)
    if not by_n:
        return df.withColumn("n_blocklist_hits", F.lit(0)).withColumn(
            "keep", F.lit(True)
        )

    def total_hits(tk):
        parts = [
            F.size(
                F.array_intersect(
                    F.array_distinct(shingles_from_tokens(tk, n)),
                    F.array(*[F.lit(x) for x in sorted(ts)]),
                )
            )
            for n, ts in sorted(by_n.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out + p
        return out

    hits = F.transform(
        F.array(tokens(F.col(text_col))), total_hits
    )[0]
    return df.withColumn("n_blocklist_hits", hits).withColumn(
        "keep", F.col("n_blocklist_hits") == 0
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope of
    ``ln(frequency) ~ ln(rank)`` across the ``top_n`` most frequent
    terms (a healthy natural-language corpus sits near -1; templated or
    synthetic text drifts flatter) — a one-number corpus-health signal
    for a pretraining-data pipeline, next to entropy and the Gopher
    rules.

    Plan shape: one token explode + one map-side-combinable term count,
    a TakeOrderedAndProject for the top-n (never a full-vocab sort), and
    a single tiny aggregate over n rows.  Determinism: each per-term
    product quantizes to DECIMAL(28,10) BEFORE the exact sum (the
    module's summation-order-independence discipline), so a DuckDB twin
    hash-matches.  Output: ``(n_terms, slope, intercept)``.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(top_n)
    )
    ranked = tf.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
        ),
    )
    dec = "decimal(28,10)"
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return agg.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    topk: int = 25,
    broadcast_vocab_max_rows: int = 5_000_000,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual information:
    ``PMI(x, y) = ln( p(x,y) / (p(x) p(y)) )`` with ``p(x,y)`` over all
    adjacent token pairs and ``p(x)`` over all tokens — the standard
    collocation extractor (Church & Hanks 1990) a corpus pipeline runs to
    find multi-word expressions worth protecting from tokenization.

    Plan shape: one token explode for unigram counts, one bigram explode
    for pair counts, then two joins of the pair table against the unigram
    counts, and a TakeOrderedAndProject for the top-k; nothing but the two
    exploded counts scales with corpus size.  The unigram table is NOT
    broadcast as-is: a raw web-corpus vocabulary grows as N^beta (see
    :func:`heaps_fit`) and runs to billions of rows at 100 TB, so an
    unconditional hint would materialize it on the driver.  Instead the
    vocabulary is first semi-joined down to the words that appear in the
    min-count-filtered pair table — O(distinct words among reported
    pairs), bounded by 2x the surviving pair count — and the broadcast
    hint on that cut (and on the pair-word set feeding the semi-join) is
    gated on its MEASURED row count (``broadcast_vocab_max_rows``,
    mirroring the k-core gate at ``operators/graph.py:_prune_weak``);
    above the gate both joins run as plain shuffle joins under AQE.  The
    filtered pair table is ``localCheckpoint``-ed so the measurement pass
    and the scoring joins share one computation of the bigram explode.
    Determinism: the PMI operand
    is assembled as ONE rational value (exact BIGINT products on both
    sides of the divide) so both engines take ``ln`` of the identical
    double; ordering ties break on the exact pair counts then the words.

    Reference analog: none (the reference has no text analytics); this is
    north-star pack capability next to tf-idf and Zipf.
    """
    toks = df.select(tokens(F.col(text_col)).alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    bi = (
        toks.filter(F.size("_t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.slice(F.col("_t"), 1, F.size("_t") - 1),
                    lambda x, i: F.struct(
                        x.alias("w1"),
                        F.element_at(F.col("_t"), i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    n_uni = uni.agg(F.sum("cw").alias("n_tokens"))
    # normalizer = ALL adjacent pairs (computed before the min-count cut,
    # or p(x,y) would be conditioned on the reporting threshold)
    n_bi_total = bi.agg(F.sum("n_pair").alias("n_bigrams"))
    bi = bi.filter(F.col("n_pair") >= int(min_count)).localCheckpoint(eager=True)
    pair_words = (
        bi.select(F.col("w1").alias("w"))
        .union(bi.select(F.col("w2").alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # measured gate: |cut vocabulary| == |pair_words| exactly (every pair
    # word is in the vocabulary), so this count prices the broadcast side
    n_cut = pair_words.count()
    small = n_cut <= int(broadcast_vocab_max_rows)
    pw = F.broadcast(pair_words) if small else pair_words
    cut = uni.join(pw, "w", "leftsemi")
    c1 = cut.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    c2 = cut.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    if small:
        c1, c2 = F.broadcast(c1), F.broadcast(c2)
    scored = (
        bi.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_total))
        .select(
            "w1",
            "w2",
            "n_pair",
            # cast-first double products: the BIGINT product n_pair*N^2
            # overflows past ~3M tokens; the double chain is identical
            # left-associated IEEE ops on both engines
            F.round(
                F.log(
                    (
                        F.col("n_pair").cast("double")
                        * F.col("n_tokens")
                        * F.col("n_tokens")
                    )
                    / (
                        F.col("n_bigrams").cast("double")
                        * F.col("c1")
                        * F.col("c2")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("n_pair").desc(), F.col("w1"), F.col("w2")
    ).limit(int(topk))


def heaps_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    points: int = 10,
) -> DataFrame:
    """Heaps\'-law fit over the corpus: least-squares slope/intercept of
    ``ln(vocabulary) ~ ln(tokens)`` across ``points`` growing corpus
    prefixes — natural text grows vocabulary as V = k*N^beta with beta
    in ~[0.4, 0.6]; templated or boilerplate-heavy corpora flatten, OCR
    noise steepens.  The one-number companion to :func:`zipf_fit` on the
    corpus-health panel.

    Prefixes are cut at ``points`` evenly-spaced ``id_col`` VALUES
    between min and max (exact integer arithmetic — engine-portable):
    the regression is against the MEASURED token count N of each prefix,
    so any deterministic increasing prefix family is statistically
    valid, and value cuts need only a min/max aggregate — no global
    sort, no single-partition rank window anywhere.  ONE token explode
    computes per-term first-occurrence id (min) and per-doc token
    counts; every prefix point then reads those two SMALL relations
    (vocabulary-sized and document-sized, never token-sized) against the
    broadcast ``points``-row cut list.  Per-point products quantize to
    DECIMAL before the LS sums (the zipf_fit discipline).  Output:
    ``(n_points, slope, intercept)``.
    """
    base = df.select(
        F.col(id_col).cast("long").alias("_id"),
        tokens(F.col(text_col)).alias("_t"),
    )
    exploded = base.select("_id", F.explode("_t").alias("term"))
    first_seen = exploded.groupBy("term").agg(F.min("_id").alias("fid"))
    doc_tokens = base.select("_id", F.size("_t").alias("nt"))
    bounds = base.agg(
        F.min("_id").alias("lo"), F.max("_id").alias("hi")
    )
    cuts = bounds.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(int(points))),
                lambda i: F.col("lo")
                + F.floor(
                    (F.col("hi") - F.col("lo"))
                    * i.cast("double")
                    / F.lit(float(points))
                ).cast("long"),
            )
        ).alias("c")
    ).distinct()
    v = (
        first_seen.crossJoin(F.broadcast(cuts))
        .filter(F.col("fid") <= F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    t = (
        doc_tokens.crossJoin(F.broadcast(cuts))
        .filter(F.col("_id") <= F.col("c"))
        .groupBy("c")
        .agg(F.sum("nt").alias("toks"))
    )
    xy = v.join(t, "c").filter((F.col("vocab") > 0) & (F.col("toks") > 0))
    dec = "decimal(28,10)"
    x = F.log(F.col("toks").cast("double"))
    y = F.log(F.col("vocab").cast("double"))
    agg = xy.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
    )
    n = F.col("np").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    # "+ 0.0" canonicalizes IEEE negative zero (a flat corpus rounds to
    # -0.0 in one engine and 0.0 in the other — same value, different hash)
    return agg.select(
        F.col("np").alias("n_points"),
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, 6) + F.lit(0.0)).alias("intercept"),
    )


def kneser_ney_bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean log2-probability under a SELF-TRAINED
    interpolated Kneser-Ney bigram model (Kneser & Ney 1995; the
    Chen & Goodman 1998 interpolated form with one fixed discount) —
    the smoothing KenLM defaults to, one rung up the LM-quality ladder
    from :func:`bigram_backoff_logprob`'s Stupid Backoff:

        P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
                 + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)

    — the continuation probability N₁₊(·w₂)/N₁₊(··) scores a word by
    how many distinct CONTEXTS it follows, not raw frequency, which is
    the insight that made KN the standard ("San Francisco" makes
    "Francisco" frequent but not free-floating).  Every quantity is a
    count ratio over the bigram TYPE relation, so the model needs no
    iteration: one bigram aggregate feeds c(w₁·) (prefix mass),
    N₁₊(w₁·) (distinct continuations), N₁₊(·w₂) (distinct contexts)
    and N₁₊(··) (type total, a broadcast scalar).

    Scoring joins per-doc bigram COUNTS (not instances) against the
    type-probability relation; seen bigrams always have c ≥ 1 > D so
    the max() never clips on a self-trained corpus.  Per-term
    DECIMAL(28,10) quantization before the exact sum keeps the result
    bit-stable across partitionings and engines (the module's standing
    LM-score discipline).  Documents need ≥ 2 tokens (a bigram model
    has nothing to say about shorter ones — excluded, not scored 0).

    Output: ``(id_col, n_bigrams, kn_log2p)``.

    Cache contract (same as ``ngram_jaccard_pairs(persist_shingles=
    True)``): two narrow intermediates — the tokenized docs and the
    bigram-count relation, each read twice by the returned plan — are
    persisted MEMORY_AND_DISK and the CALLER owns their lifetime:
    unpersist via ``spark.catalog.clearCache()`` (or let LRU evict)
    once the result is materialized.  Unpersisting here would defeat
    the reuse, because the returned DataFrame is lazy.
    """
    from pyspark.storagelevel import StorageLevel

    from door2door_etl_spark.io.readers import widen_if_narrow

    d_lit = F.lit(float(discount))
    docs = (
        widen_if_narrow(df)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
        .filter(F.size("_t") >= 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = F.size("_t")
    pairs = F.zip_with(
        F.slice(F.col("_t"), 1, n - 1),
        F.expr("slice(_t, 2, size(_t) - 1)"),
        lambda x, y: F.concat_ws("\x1f", x, y),
    )
    bigr = docs.select(F.col(id_col), F.explode(pairs).alias("big"))
    cb = (
        bigr.groupBy("big")
        .agg(F.count(F.lit(1)).alias("c_big"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    split = F.split(F.col("big"), "\x1f", 2)
    cbs = cb.select(
        "big",
        "c_big",
        split.getItem(0).alias("_x"),
        split.getItem(1).alias("_y"),
    )
    c1 = cbs.groupBy("_x").agg(
        F.sum("c_big").alias("c_ctx"), F.count(F.lit(1)).alias("n1_fwd")
    )
    n1b = cbs.groupBy("_y").agg(F.count(F.lit(1)).alias("n1_bwd"))
    btot = cb.agg(F.count(F.lit(1)).alias("_b"))
    p_rel = (
        cbs.join(c1, "_x")
        .join(n1b, "_y")
        .crossJoin(F.broadcast(btot))
        .select(
            "big",
            (
                (F.col("c_big").cast("double") - d_lit) / F.col("c_ctx")
                + d_lit
                * F.col("n1_fwd")
                / F.col("c_ctx")
                * (F.col("n1_bwd").cast("double") / F.col("_b"))
            ).alias("_p"),
        )
    )
    doc_big = bigr.groupBy(id_col, "big").agg(F.count(F.lit(1)).alias("cnt"))
    term = (F.col("cnt").cast("double") * F.log2(F.col("_p"))).cast(
        "decimal(28,10)"
    )
    return (
        doc_big.join(p_rel, "big")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(term).alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            F.round(
                F.col("_s").cast("double") / F.col("n_bigrams").cast("double"),
                6,
            ).alias("kn_log2p"),
        )
    )
