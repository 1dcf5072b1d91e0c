"""Training-data operator catalog, wave 4 (round 5 extension): corpus-wide
segment dedup (the C4 recipe), Gopher rule-based quality filtering, and the
portable-register sketch family (HyperLogLog, Count-Min) with mergeable
rollups.

Same contract as every other catalog: each query is Spark-first (built-in
column expressions, bounded-key shuffles, no Python in the hot path) and
carries a DuckDB oracle built from the shared portable-hash fragments, so
the driver hash-compares values bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.readers import load_table
from door2door_etl_spark.operators import local
from door2door_etl_spark.operators.dedup import segment_dedup, substring_dedup
from door2door_etl_spark.operators.sketches import (
    cms_merge,
    cms_point_estimate,
    cms_sketch_table,
    hll_estimate,
    hll_merge,
    hll_register_table,
)
from door2door_etl_spark.operators.text import (
    GOPHER_STOPWORDS,
    gopher_quality_flags,
    token_count,
    tokens,
)
from door2door_etl_spark.queries.defs import QueryDef
from door2door_etl_spark.queries.sql_fragments import (
    sql_h52,
    sql_tokens,
    sql_uniform_hash,
)

SEG_WORDS = 10


def q_segment_dedup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-wide segment dedup: first occurrence of every
    distinct 10-word segment survives, documents reassembled
    (operators.dedup.segment_dedup — groupBy-min first-occurrence, skew-safe
    map-side partial agg, no window funnel)."""
    docs = load_table(spark, sf, "documents")
    return segment_dedup(docs, seg_words=SEG_WORDS)


SQL_SEGMENT_DEDUP_CORPUS = f"""
WITH segs AS (
  SELECT doc_id, s.seg_idx,
         array_to_string(
           (string_split(coalesce(text, ''), ' '))[s.seg_idx * {SEG_WORDS} + 1
                                     : s.seg_idx * {SEG_WORDS} + {SEG_WORDS}],
           ' ') AS seg_text
  FROM documents,
       LATERAL (SELECT unnest(generate_series(0,
                  CAST(ceil(len(string_split(coalesce(text, ''), ' '))
                            / {SEG_WORDS}.0)
                       AS INT) - 1)) AS seg_idx) s
), ranked AS (
  SELECT doc_id, seg_idx, seg_text,
         row_number() OVER (PARTITION BY seg_text
                            ORDER BY doc_id, seg_idx) AS rn
  FROM segs)
SELECT doc_id,
       count(*) AS segs_total,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS segs_kept,
       coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                  FILTER (WHERE rn = 1), '') AS clean_text
FROM ranked GROUP BY doc_id
"""


def q_gopher_quality_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher Table-A1 rule filter: per-document word-count/mean-length/
    alphabetic-fraction/stopword rules + composite keep verdict — one
    map-only scan (operators.text.gopher_quality_flags)."""
    docs = load_table(spark, sf, "documents")
    return gopher_quality_flags(docs).select(
        "doc_id", "word_count", "mean_word_len", "alpha_frac", "stop_hits", "keep"
    )


def _sql_gopher_quality_rules() -> str:
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS word_count,
         round(CAST(list_aggregate(list_transform(toks, x -> length(x)),
                                   'sum') AS DOUBLE) / len(toks), 4)
           AS mean_word_len,
         round(CAST(len(list_filter(toks,
                  x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE)
               / len(toks), 4) AS alpha_frac,
         CAST(len(list_filter(toks, x -> x IN ({stops}))) AS INT)
           AS stop_hits
  FROM t)
SELECT doc_id, word_count, mean_word_len, alpha_frac, stop_hits,
       (word_count BETWEEN 30 AND 50000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
FROM s
"""


# --- HyperLogLog ---------------------------------------------------------

HLL_P = 6  # m = 64 buckets
_WBITS = 52 - HLL_P  # 46
_WSPACE = 1 << _WBITS
_RMAX = _WBITS + 1  # 47
_POW_RMAX = 1 << _RMAX


def _sql_hll_registers(grain: str) -> str:
    """Register CTE body shared by both HLL oracles; ``grain`` is the
    SELECT-list prefix (e.g. ``event_type``)."""
    h = sql_h52("user_id", "hll")
    return f"""
h AS (
  SELECT {grain}, {h} AS h FROM events
), br AS (
  SELECT {grain}, CAST(h >> {_WBITS} AS INT) AS bucket,
         CAST(CASE WHEN (h % {_WSPACE}) > 0
                   THEN {_RMAX} - length(bin(h % {_WSPACE}))
                   ELSE {_RMAX} END AS INT) AS register
  FROM h
), regs AS (
  SELECT {grain}, bucket, max(register) AS register FROM br
  GROUP BY ALL
)"""


def q_hll_registers(spark: SparkSession, sf: str) -> DataFrame:
    """Portable-register HyperLogLog sketch of distinct users per event
    type: the register TABLE itself (engine-exchangeable, unlike
    approx_count_distinct's private state) — operators.sketches.
    hll_register_table."""
    ev = load_table(spark, sf, "events")
    return hll_register_table(ev, ["event_type"], "user_id", p=HLL_P)


SQL_HLL_REGISTERS = f"""
WITH {_sql_hll_registers('event_type')}
SELECT event_type, bucket, register FROM regs
"""


def q_hll_rollup_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-HLL rollup: per-(event_type, day) sketches merged up to
    event_type (MAX per bucket — lossless), then the Flajolet estimator
    with linear-counting small-range correction.  The oracle computes
    registers directly at the coarse grain, pinning that rollup loses
    nothing (operators.sketches.hll_merge / hll_estimate)."""
    ev = load_table(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = hll_register_table(ev, ["event_type", "day"], "user_id", p=HLL_P)
    merged = hll_merge(daily, ["event_type"])
    return hll_estimate(merged, ["event_type"], p=HLL_P)


SQL_HLL_ROLLUP_ESTIMATE = f"""
WITH {_sql_hll_registers('event_type')}, agg AS (
  SELECT event_type, count(*) AS n_used,
         sum(CAST(1 AS BIGINT) << ({_RMAX} - register)) AS s_present
  FROM regs GROUP BY 1)
SELECT event_type, CAST(n_used AS INT) AS buckets_used,
       CASE WHEN (CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST({_POW_RMAX} AS DOUBLE))
                   / CAST(s_present + (64 - n_used) * CAST({_POW_RMAX} AS BIGINT) AS DOUBLE)
                 <= 160.0
              AND (64 - n_used) > 0
            THEN round(64.0 * ln(64.0 / CAST(64 - n_used AS DOUBLE)), 4)
            ELSE round((CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST({_POW_RMAX} AS DOUBLE))
                   / CAST(s_present + (64 - n_used) * CAST({_POW_RMAX} AS BIGINT) AS DOUBLE), 4)
       END AS est_distinct
FROM agg
"""


# --- Count-Min sketch ----------------------------------------------------

CMS_DEPTH = 3
CMS_WIDTH = 64
CMS_TOPK = 10


def _doc_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("token")
    )


def q_cms_token_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min token-frequency sketch per language: the exact-integer
    register table (lang, row, col, cnt) — mergeable by SUM, bounded at
    depth x width cells per group (operators.sketches.cms_sketch_table)."""
    return cms_sketch_table(
        _doc_tokens(spark, sf), ["lang"], "token", depth=CMS_DEPTH, width=CMS_WIDTH
    )


def _sql_cms_cells(grain: str) -> str:
    # sql_h52 inlines the salt inside a literal; splice rr via concat instead
    h = (
        "CAST(concat('0x', substr(sha256(CAST(token AS VARCHAR) || 'cms' "
        "|| CAST(rr AS VARCHAR)), 1, 13)) AS BIGINT)"
    )
    sel = f"{grain}, " if grain else ""
    return f"""
tok AS (
  SELECT lang, unnest({sql_tokens('text')}) AS token FROM documents
), cells AS (
  SELECT {sel}rr AS row,
         CAST({h} % {CMS_WIDTH} AS INT) AS col
  FROM tok, LATERAL (SELECT unnest([0, 1, 2]) AS rr) t2
)"""


SQL_CMS_TOKEN_SKETCH = f"""
WITH {_sql_cms_cells('lang')}
SELECT lang, row, col, count(*) AS cnt FROM cells GROUP BY 1, 2, 3
"""


def q_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter frequency check: merge the per-language CMS up to a
    global sketch (SUM — lossless), then estimate the top-10 exact tokens'
    counts from the sketch alone and report the overcount (the CMS
    guarantee: est >= exact always).  The probe is a broadcast of the
    <= depth x width register table — the corpus is never rescanned
    (operators.sketches.cms_merge / cms_point_estimate)."""
    from door2door_etl_spark.io.readers import widen_if_narrow

    # Materialized ONCE (width-normalized BEFORE the tokenize so the
    # explode itself runs wide, lineage-truncated): the token relation
    # feeds BOTH the sketch build (3 sha-hashes per token) and the exact
    # top-k — the tokenize+explode otherwise ran twice on the single
    # scan partition.
    docs = widen_if_narrow(load_table(spark, sf, "documents"))
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("token")
    ).localCheckpoint(eager=True)
    sketch = cms_merge(
        cms_sketch_table(toks, ["lang"], "token", depth=CMS_DEPTH, width=CMS_WIDTH),
        [],
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(CMS_TOPK)
    )
    est = cms_point_estimate(
        sketch, top, "token", depth=CMS_DEPTH, width=CMS_WIDTH
    )
    return est.select(
        "token",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
    )


def _sql_cms_heavy_hitters() -> str:
    def probe(r: int) -> str:
        h = (
            f"CAST(concat('0x', substr(sha256(CAST(token AS VARCHAR) "
            f"|| 'cms{r}'), 1, 13)) AS BIGINT)"
        )
        return (
            f"coalesce((SELECT cnt FROM sk WHERE row = {r} "
            f"AND col = CAST({h} % {CMS_WIDTH} AS INT)), 0)"
        )

    probes = ", ".join(probe(r) for r in range(CMS_DEPTH))
    return f"""
WITH {_sql_cms_cells('')}, sk AS (
  SELECT row, col, count(*) AS cnt FROM cells GROUP BY 1, 2
), exact AS (
  SELECT token, count(*) AS exact_cnt FROM tok GROUP BY 1
), top AS (
  SELECT token, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, token LIMIT {CMS_TOPK}
)
SELECT token, exact_cnt,
       CAST(least({probes}) AS BIGINT) AS est_cnt,
       CAST(least({probes}) - exact_cnt AS BIGINT) AS overcount
FROM top
"""


# --- tokenizer vocabulary coverage ---------------------------------------

VOCAB_SIZE = 40


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-vocabulary induction + coverage audit: build the top-V
    token vocabulary from global counts (count desc, token asc tiebreak),
    then per-language OOV statistics — the coverage check run before
    committing to a tokenizer vocab.  The vocab is a TakeOrdered top-V
    (never a full sort) broadcast back over one token pass; two scans
    total, no large shuffle."""
    toks = _doc_tokens(spark, sf)
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(VOCAB_SIZE)
        .select("token")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_in_vocab", F.lit(1))), "token", "left"
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("oov_tokens"),
        F.round(
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("oov_rate"),
    )


SQL_VOCAB_COVERAGE = f"""
WITH tok AS (
  SELECT lang, unnest({sql_tokens('text')}) AS token FROM documents
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
  ORDER BY cnt DESC, token LIMIT {VOCAB_SIZE}
)
SELECT lang, count(*) AS total_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS oov_rate
FROM tok t LEFT JOIN vocab v USING (token)
GROUP BY lang
"""


# --- exact substring dedup (Lee et al. 2022 ExactSubstr) -------------------

SUBSTR_K = 8


def q_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr corpus dedup: every non-first occurrence of a duplicated
    token span is cut out, documents reassembled (operators.dedup.
    substring_dedup — k-gram anchored suffix-array stand-in, map-side
    partial agg over gram digests, rare/common flag-back split, one
    token-row shuffle for coverage + reassembly)."""
    docs = load_table(spark, sf, "documents")
    return substring_dedup(docs, k=SUBSTR_K)


SQL_SUBSTRING_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, {{toks}} AS l FROM documents
), trows AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS token,
         CASE WHEN i <= len(l) - {SUBSTR_K} + 1
              THEN substr(sha256(array_to_string(
                     l[i:i+{SUBSTR_K - 1}], ' ')), 1, 16)
         END AS gh
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) s
), flagged AS (
  SELECT doc_id, pos, token,
         CASE WHEN gh IS NOT NULL
                   AND count(*) OVER (PARTITION BY gh) > 1
                   AND row_number() OVER (PARTITION BY gh
                                          ORDER BY doc_id, pos) > 1
              THEN 1 ELSE 0 END AS dup_start
  FROM trows
), covered AS (
  SELECT doc_id, pos, token,
         max(dup_start) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN {SUBSTR_K - 1} PRECEDING AND CURRENT ROW) AS cov
  FROM flagged
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(cov) AS BIGINT) AS n_removed,
         coalesce(string_agg(token, ' ' ORDER BY pos)
                    FILTER (WHERE cov = 0), '') AS clean_text
  FROM covered GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_removed, 0) AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg a USING (doc_id)
""".replace("{toks}", sql_tokens("text"))


TRAINING_QUERIES: list[QueryDef] = [
    QueryDef(
        "ns_vocab_coverage",
        q_vocab_coverage,
        SQL_VOCAB_COVERAGE,
        "north-star text/vocab-oov-audit",
        ("northstar", "text"),
    ),
    QueryDef(
        "ns_substring_dedup",
        q_substring_dedup,
        SQL_SUBSTRING_DEDUP,
        "north-star dedup/exact-substring (Lee et al. 2022)",
        ("northstar", "dedup"),
    ),
    QueryDef(
        "ns_segment_dedup_corpus",
        q_segment_dedup_corpus,
        SQL_SEGMENT_DEDUP_CORPUS,
        "north-star dedup/segment-c4",
        ("northstar", "dedup"),
    ),
    QueryDef(
        "ns_gopher_quality_rules",
        q_gopher_quality_rules,
        _sql_gopher_quality_rules(),
        "north-star text/gopher-rules",
        ("northstar", "text"),
    ),
    QueryDef(
        "ns_hll_registers",
        q_hll_registers,
        SQL_HLL_REGISTERS,
        "north-star sketch/hll-registers",
        ("northstar", "sketch"),
    ),
    QueryDef(
        "ns_hll_rollup_estimate",
        q_hll_rollup_estimate,
        SQL_HLL_ROLLUP_ESTIMATE,
        "north-star sketch/hll-mergeable-rollup",
        ("northstar", "sketch"),
    ),
    QueryDef(
        "ns_cms_token_sketch",
        q_cms_token_sketch,
        SQL_CMS_TOKEN_SKETCH,
        "north-star sketch/cms-registers",
        ("northstar", "sketch"),
    ),
    QueryDef(
        "ns_cms_heavy_hitters",
        q_cms_heavy_hitters,
        _sql_cms_heavy_hitters(),
        "north-star sketch/cms-heavy-hitters",
        ("northstar", "sketch"),
    ),
]


# --- Bloom filter + reservoir sampling (wave 4b) --------------------------

BLOOM_M = 256
BLOOM_K = 3


def _sql_bloom_bit(j: int) -> str:
    h = sql_h52("doc_id", f"bloom{j}")
    return f"CAST({h} % {BLOOM_M} AS INT)"


def q_bloom_bit_table(spark: SparkSession, sf: str) -> DataFrame:
    """Portable Bloom filter as a TABLE: per-language set-bit positions
    over doc_id (k=3 hashes into m=256 bits) — mergeable by
    union-distinct, engine-exchangeable unlike Spark's opaque
    df.stat.bloomFilter blob (operators.sketches.bloom_bit_table)."""
    from door2door_etl_spark.operators.sketches import bloom_bit_table

    docs = load_table(spark, sf, "documents")
    return bloom_bit_table(docs, ["lang"], "doc_id", m=BLOOM_M, k=BLOOM_K)


SQL_BLOOM_BIT_TABLE = f"""
SELECT DISTINCT lang, b AS bit FROM (
  SELECT lang,
         unnest([{_sql_bloom_bit(0)}, {_sql_bloom_bit(1)}, {_sql_bloom_bit(2)}])
           AS b
  FROM documents)
"""


def q_bloom_membership_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom membership audit: build per-source filters over the English
    docs, merge to one global filter (union-distinct — the Bloom OR),
    probe EVERY document map-side via the literal bit array, and report
    per-language maybe-present counts.  The Bloom guarantee is visible in
    the result: every 'en' row probes positive (zero false negatives);
    other languages' positives are the measured FP rate
    (operators.sketches.bloom_merge / bloom_probe)."""
    from door2door_etl_spark.operators.sketches import (
        bloom_bit_table,
        bloom_merge,
        bloom_probe,
    )

    docs = load_table(spark, sf, "documents")
    per_source = bloom_bit_table(
        docs.filter(F.col("lang") == "en"), ["source"], "doc_id",
        m=BLOOM_M, k=BLOOM_K,
    )
    glob = bloom_merge(per_source, [])
    probed = bloom_probe(glob, docs, "doc_id", m=BLOOM_M, k=BLOOM_K)
    return probed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("maybe_present"), 1).otherwise(0))
        .cast("bigint")
        .alias("maybe_present"),
    )


SQL_BLOOM_MEMBERSHIP_AUDIT = f"""
WITH bits AS (
  SELECT DISTINCT b AS bit FROM (
    SELECT unnest([{_sql_bloom_bit(0)}, {_sql_bloom_bit(1)},
                   {_sql_bloom_bit(2)}]) AS b
    FROM documents WHERE lang = 'en')
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN {_sql_bloom_bit(0)} IN (SELECT bit FROM bits)
                      AND {_sql_bloom_bit(1)} IN (SELECT bit FROM bits)
                      AND {_sql_bloom_bit(2)} IN (SELECT bit FROM bits)
                     THEN 1 ELSE 0 END) AS BIGINT) AS maybe_present
FROM documents GROUP BY lang
"""

RESERVOIR_N = 5


def q_group_reservoir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language reservoir sample (n=5, bottom-k of the
    portable hash deviate): uniform without replacement, reproducible
    across engines/reruns/partitionings, WindowGroupLimit-bounded state
    (operators.sketches.group_reservoir_sample)."""
    from door2door_etl_spark.operators.sketches import group_reservoir_sample

    docs = load_table(spark, sf, "documents")
    return group_reservoir_sample(docs, ["lang"], "doc_id", RESERVOIR_N).select(
        "lang", "sample_rank", "doc_id", "n_chars"
    )


SQL_GROUP_RESERVOIR_SAMPLE = f"""
SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {sql_uniform_hash('doc_id', 'reservoir')}, doc_id
         ) AS sample_rank
  FROM documents)
WHERE sample_rank <= {RESERVOIR_N}
"""


TRAINING_QUERIES.extend(
    [
        QueryDef(
            "ns_bloom_bit_table",
            q_bloom_bit_table,
            SQL_BLOOM_BIT_TABLE,
            "north-star sketch/bloom-registers",
            ("northstar", "sketch"),
        ),
        QueryDef(
            "ns_bloom_membership_audit",
            q_bloom_membership_audit,
            SQL_BLOOM_MEMBERSHIP_AUDIT,
            "north-star sketch/bloom-merge-probe",
            ("northstar", "sketch"),
        ),
        QueryDef(
            "ns_group_reservoir_sample",
            q_group_reservoir_sample,
            SQL_GROUP_RESERVOIR_SAMPLE,
            "north-star sampling/group-reservoir",
            ("northstar", "sampling"),
        ),
    ]
)


MIX_ALPHA = 0.5


def q_temperature_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened language mix (alpha=0.5): deterministically
    downsample high-resource languages toward n^alpha shares — rate_g =
    (n_min/n_g)^(1-alpha), one broadcast of 5 rates, one map-side filter
    (operators.sketches.temperature_mix_sample)."""
    from door2door_etl_spark.operators.sketches import temperature_mix_sample

    docs = load_table(spark, sf, "documents")
    kept = temperature_mix_sample(docs, "lang", "doc_id", alpha=MIX_ALPHA)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


SQL_TEMPERATURE_MIX_SAMPLE = f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1
), nmin AS (
  SELECT min(n) AS nmin FROM counts
), rates AS (
  SELECT lang, round(pow(nmin / n, 1.0 - {MIX_ALPHA}), 9) AS rate FROM counts, nmin
)
SELECT d.lang, count(*) AS n_kept,
       CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
WHERE {sql_uniform_hash('d.doc_id', 'tmix')} < r.rate
GROUP BY d.lang
"""

TRAINING_QUERIES.append(
    QueryDef(
        "ns_temperature_mix_sample",
        q_temperature_mix_sample,
        SQL_TEMPERATURE_MIX_SAMPLE,
        "north-star sampling/temperature-mix",
        ("northstar", "sampling"),
    )
)


def q_perplexity_filter_report(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity filter, composed end-to-end in one lazy
    plan: score every document under the self-trained unigram LM
    (operators.text.unigram_logprob), pick a per-language p10 threshold
    (exact percentile — the oracle-checkable twin of the mergeable
    approx_percentile path), and report per-language survivors.  The
    threshold table is 5 rows broadcast back over the scores — the
    corpus shuffles only for the LM scoring itself."""
    from door2door_etl_spark.operators.text import unigram_logprob

    docs = load_table(spark, sf, "documents")
    scored = unigram_logprob(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    thr = scored.groupBy("lang").agg(
        F.round(F.percentile(F.col("unigram_log2p"), F.lit(0.1)), 6).alias(
            "p10_threshold"
        )
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .groupBy("lang", "p10_threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("unigram_log2p") >= F.col("p10_threshold"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def _sql_perplexity_filter_report() -> str:
    toks = sql_tokens("text")
    return f"""
WITH toks AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
corpus AS (SELECT tok, count(*) AS c_corpus FROM toks GROUP BY 1),
total AS (SELECT log2(CAST(sum(c_corpus) AS DOUBLE)) AS log2_total FROM corpus),
dc AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
    CAST(sum(CAST(CAST(cnt AS DOUBLE) * log2(CAST(c_corpus AS DOUBLE))
                  AS DECIMAL(28,10))) AS DOUBLE) AS s
  FROM dc JOIN corpus USING (tok) GROUP BY doc_id),
scored AS (
  SELECT d.lang, a.doc_id,
         round(a.s / CAST(a.n_tokens AS DOUBLE) - t.log2_total, 6)
           AS unigram_log2p
  FROM agg a CROSS JOIN total t JOIN documents d USING (doc_id)),
thr AS (
  SELECT lang, round(quantile_cont(unigram_log2p, 0.1), 6) AS p10_threshold
  FROM scored GROUP BY 1)
SELECT s.lang, t.p10_threshold, count(*) AS n_docs,
       CAST(sum(CASE WHEN s.unigram_log2p >= t.p10_threshold
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM scored s JOIN thr t USING (lang)
GROUP BY s.lang, t.p10_threshold
"""


TRAINING_QUERIES.append(
    QueryDef(
        "ns_perplexity_filter_report",
        q_perplexity_filter_report,
        _sql_perplexity_filter_report(),
        "north-star text/perplexity-filter-composite",
        ("northstar", "text"),
    )
)


OVERSIZE_BYTES = 300


def q_multimodal_asset_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Asset-store audit over the multimodal column pair: per source,
    asset counts, byte totals/extremes, distinct payload digests (exact —
    dedup potential), and oversized-payload counts — the storage-planning
    aggregate a binary-asset lake runs before a dedup/resize pass.  One
    scan, meta derived map-side (operators.multimodal.attach_binary_content)."""
    from door2door_etl_spark.operators.multimodal import attach_binary_content

    docs = load_table(spark, sf, "documents")
    assets = attach_binary_content(docs, "text", "text", "text/plain")
    return assets.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.col("meta.n_bytes")).cast("bigint").alias("total_bytes"),
        F.min(F.col("meta.n_bytes")).alias("min_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
        F.countDistinct(F.col("meta.content_sha")).alias("distinct_payloads"),
        F.sum(
            F.when(F.col("meta.n_bytes") > OVERSIZE_BYTES, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("oversized"),
    )


SQL_MULTIMODAL_ASSET_AUDIT = f"""
SELECT source, count(*) AS n_assets,
       CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
       CAST(min(octet_length(CAST(text AS BLOB))) AS BIGINT) AS min_bytes,
       CAST(max(octet_length(CAST(text AS BLOB))) AS BIGINT) AS max_bytes,
       count(DISTINCT sha256(text)) AS distinct_payloads,
       CAST(sum(CASE WHEN octet_length(CAST(text AS BLOB)) > {OVERSIZE_BYTES}
                     THEN 1 ELSE 0 END) AS BIGINT) AS oversized
FROM documents GROUP BY source
"""

TRAINING_QUERIES.append(
    QueryDef(
        "ns_multimodal_asset_audit",
        q_multimodal_asset_audit,
        SQL_MULTIMODAL_ASSET_AUDIT,
        "north-star multimodal/asset-audit",
        ("northstar", "multimodal"),
    )
)


PROFILE_COLS = ["event_id", "user_id", "event_type"]


def q_table_profile_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-contract profiling of the events table: per-column row/null/
    exact-distinct counts and stringified extremes, all from ONE scan and
    ONE aggregate (operators.relational.profile_columns) — the
    table-health report the reference's monitor queries approximate
    (reference src/helper/postgres.py:88-129)."""
    from door2door_etl_spark.operators.relational import profile_columns

    ev = load_table(spark, sf, "events")
    return profile_columns(ev, PROFILE_COLS)


def _sql_table_profile_report() -> str:
    parts = [
        f"""SELECT '{c}' AS column, count(*) AS n_rows,
            count(*) - count({c}) AS n_null,
            count(DISTINCT {c}) AS n_distinct,
            CAST(min({c}) AS VARCHAR) AS min_value,
            CAST(max({c}) AS VARCHAR) AS max_value
     FROM events"""
        for c in PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


TRAINING_QUERIES.append(
    QueryDef(
        "ns_table_profile_report",
        q_table_profile_report,
        _sql_table_profile_report(),
        "north-star profiling/column-contract-report",
        ("northstar", "profiling"),
    )
)


BPE_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer induction over the corpus: the first 8 learned merge
    rules with their weighted pair counts (operators.text.bpe_train
    — corpus-scale data is touched exactly once to build the word-frequency
    table; merge induction then runs in O(1) Spark jobs on the collected
    vocabulary, or in exact disjoint-batched rounds when the vocabulary
    exceeds the driver cap).  Genuinely iterative -> no single-statement
    SQL oracle; exactness is pinned by the classic Sennrich known-answer
    test plus parity tests against a naive reference trainer."""
    from door2door_etl_spark.operators.text import bpe_train

    docs = load_table(spark, sf, "documents")
    merges = bpe_train(docs, BPE_MERGES)
    return local.frame(
        spark,
        [
            (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "rank int, left string, right string, merged string, pair_count long",
    )


TRAINING_QUERIES.append(
    QueryDef(
        "ns_bpe_merges",
        q_bpe_merges,
        None,  # iterative: rows-only check; known-answer test pins values
        "north-star text/bpe-tokenizer-induction",
        ("northstar", "text"),
    )
)


def q_dataset_card_report(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card summary: the one-row corpus statistics block a
    published dataset ships with — sizes, token totals, language/source
    diversity, and the exact duplicate rate — computed in ONE aggregate
    over one scan (token counts via the map-side tokenizer, dup rate via
    countDistinct of the content digest)."""
    docs = load_table(spark, sf, "documents")
    tc = token_count(F.col("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc.cast("bigint")).alias("total_tokens"),
        F.round(F.sum(tc.cast("bigint")).cast("double") / F.count(F.lit(1)), 4)
        .alias("avg_tokens_per_doc"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("distinct_texts"),
        F.round(
            F.lit(1.0)
            - F.countDistinct(F.sha2(F.col("text"), 256)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def _sql_dataset_card_report() -> str:
    toks = sql_tokens("text")
    return f"""
SELECT count(*) AS n_docs,
       CAST(sum(len({toks})) AS BIGINT) AS total_tokens,
       round(CAST(sum(len({toks})) AS DOUBLE) / count(*), 4)
         AS avg_tokens_per_doc,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT sha256(text)) AS distinct_texts,
       round(1.0 - CAST(count(DISTINCT sha256(text)) AS DOUBLE) / count(*), 6)
         AS exact_dup_rate,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
"""


TRAINING_QUERIES.append(
    QueryDef(
        "ns_dataset_card_report",
        q_dataset_card_report,
        _sql_dataset_card_report(),
        "north-star profiling/dataset-card",
        ("northstar", "profiling"),
    )
)


CTX_BUCKET_CAP = 512


def q_packing_efficiency_report(spark: SparkSession, sf: str) -> DataFrame:
    """Padding-waste audit for length-bucketed batching: per power-of-two
    token-length bucket, document counts, real tokens, padded slots
    (bucket ceiling x docs), and the waste fraction — the measurement that
    justifies (or resizes) the bucketing scheme before a training run.
    One scan; bucket = 2^ceil(log2(len)) capped at the context size."""
    docs = load_table(spark, sf, "documents")
    tc = token_count(F.col("text"))
    bucket = F.least(
        F.lit(CTX_BUCKET_CAP),
        F.pow(F.lit(2.0), F.ceil(F.log2(F.greatest(tc, F.lit(1)).cast("double")))).cast("int"),
    )
    # over-cap documents are truncated at the context size in practice, so
    # the consumed-token side is capped at the bucket — otherwise the top
    # bucket's waste goes negative and masks the resize decision.
    consumed = F.least(tc, bucket).cast("bigint")
    return (
        docs.select(consumed.alias("used_tok"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("used_tok").alias("used_tokens"),
            (F.count(F.lit(1)) * F.first("bucket")).cast("bigint").alias("padded_slots"),
            F.round(
                F.lit(1.0)
                - F.sum("used_tok").cast("double")
                / (F.count(F.lit(1)) * F.first("bucket")).cast("double"),
                6,
            ).alias("waste_frac"),
        )
    )


def _sql_packing_efficiency_report() -> str:
    toks = sql_tokens("text")
    return f"""
WITH t AS (
  SELECT len({toks}) AS n_tok FROM documents
), b AS (
  SELECT n_tok,
         least({CTX_BUCKET_CAP},
               CAST(pow(2.0, ceil(log2(CAST(greatest(n_tok, 1) AS DOUBLE))))
                    AS INT)) AS bucket
  FROM t)
SELECT bucket, count(*) AS n_docs,
       CAST(sum(least(n_tok, bucket)) AS BIGINT) AS used_tokens,
       CAST(count(*) * bucket AS BIGINT) AS padded_slots,
       round(1.0 - CAST(sum(least(n_tok, bucket)) AS DOUBLE)
                   / CAST(count(*) * bucket AS DOUBLE), 6) AS waste_frac
FROM b GROUP BY bucket
"""


def q_corpus_ngram_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus diversity per language: type-token ratio and distinct-
    trigram ratio — low values flag TEMPLATED/repetitive sources before
    they skew training.  ONE corpus scan: tokens and trigrams derive from
    the same materialized token array, tagged into a single exploded
    stream aggregated once per (lang, kind)."""
    from door2door_etl_spark.operators.text import shingles_from_tokens

    docs = load_table(spark, sf, "documents")
    # ONE tokenize, ONE scan, ONE explode: tokens and trigrams are both
    # derived from the same materialized token array and tagged into a
    # single exploded stream (two independent aggregations would scan and
    # re-tokenize the corpus twice).
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    tagged = docs.select(
        "lang",
        F.explode(
            F.transform(F.array(toks), lambda t: F.concat(
                F.transform(t, lambda x: F.struct(F.lit("tok").alias("kind"), x.alias("v"))),
                F.transform(
                    shingles_from_tokens(t, 3),
                    lambda x: F.struct(F.lit("tri").alias("kind"), x.alias("v")),
                ),
            ))[0]
        ).alias("e"),
    ).select("lang", F.col("e.kind").alias("kind"), F.col("e.v").alias("v"))
    stats = tagged.groupBy("lang", "kind").agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("v").alias("distinct"),
    )
    tok_stats = stats.filter(F.col("kind") == "tok").select(
        "lang",
        F.col("total").alias("total_tokens"),
        F.col("distinct").alias("distinct_tokens"),
    )
    tri_stats = stats.filter(F.col("kind") == "tri").select(
        "lang",
        F.col("total").alias("total_trigrams"),
        F.col("distinct").alias("distinct_trigrams"),
    )
    return (
        tok_stats.join(tri_stats, "lang")
        .select(
            "lang",
            "total_tokens",
            "distinct_tokens",
            F.round(
                F.col("distinct_tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("type_token_ratio"),
            F.round(
                F.col("distinct_trigrams").cast("double") / F.col("total_trigrams"),
                6,
            ).alias("distinct_trigram_ratio"),
        )
    )


def _sql_corpus_ngram_diversity() -> str:
    from door2door_etl_spark.queries.sql_fragments import sql_shingles

    toks = sql_tokens("coalesce(text, '')")
    tris = sql_shingles("coalesce(text, '')", 3)
    return f"""
WITH tok AS (
  SELECT lang, unnest({toks}) AS tok FROM documents
), ts AS (
  SELECT lang, count(*) AS total_tokens,
         count(DISTINCT tok) AS distinct_tokens
  FROM tok GROUP BY 1
), tri AS (
  SELECT lang, unnest({tris}) AS tri FROM documents
), trs AS (
  SELECT lang, count(*) AS total_trigrams,
         count(DISTINCT tri) AS distinct_trigrams
  FROM tri GROUP BY 1)
SELECT lang, total_tokens, distinct_tokens,
       round(CAST(distinct_tokens AS DOUBLE) / total_tokens, 6)
         AS type_token_ratio,
       round(CAST(distinct_trigrams AS DOUBLE) / total_trigrams, 6)
         AS distinct_trigram_ratio
FROM ts JOIN trs USING (lang)
"""


TRAINING_QUERIES.extend(
    [
        QueryDef(
            "ns_packing_efficiency_report",
            q_packing_efficiency_report,
            _sql_packing_efficiency_report(),
            "north-star packing/padding-waste-audit",
            ("northstar", "packing"),
        ),
        QueryDef(
            "ns_corpus_ngram_diversity",
            q_corpus_ngram_diversity,
            _sql_corpus_ngram_diversity(),
            "north-star text/corpus-diversity",
            ("northstar", "text"),
        ),
    ]
)


# --- contrastive negative sampling ----------------------------------------

NEG_K = 4
NEG_SEED = 0


def q_negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic uniform negatives for contrastive training: every
    embedding row draws 4 pseudo-random OTHER rows via the portable hash
    over seeded shuffle positions — reproducible pairing no rand() can
    give (operators.sketches.negative_samples; anchor==negative
    collisions drop, so <= k rows per anchor)."""
    from door2door_etl_spark.operators.sketches import negative_samples

    emb = load_table(spark, sf, "embeddings")
    return negative_samples(emb, "vec_id", k=NEG_K, seed=NEG_SEED)


def _sql_negative_samples() -> str:
    # one portable-hash contract, one helper (sql_h52) — never re-encoded
    h = sql_h52(
        "CAST(e.vec_id AS VARCHAR) || '|' || CAST(j.neg_rank AS VARCHAR)",
        "negsample",
    )
    ranks = ", ".join(str(j) for j in range(NEG_K))
    return f"""
WITH pos AS (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY sha256('{NEG_SEED}' || '|' || CAST(vec_id AS VARCHAR)))
           AS p
  FROM embeddings
), n AS (SELECT count(*) AS n FROM embeddings),
tgt AS (
  SELECT e.vec_id, j.neg_rank,
         {h} % (SELECT n FROM n) + 1 AS target_pos
  FROM embeddings e,
       LATERAL (SELECT unnest([{ranks}]) AS neg_rank) j)
SELECT t.vec_id, CAST(t.neg_rank AS INT) AS neg_rank,
       p.vec_id AS negative_id
FROM tgt t JOIN pos p ON p.p = t.target_pos
WHERE t.vec_id != p.vec_id
"""


HARDNEG_QUERIES = [0, 1, 2]
HARDNEG_K = 5


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining: for each query embedding, the top-5 most
    cosine-similar vectors with a DIFFERENT label — the contrastive pairs
    that actually teach a model (uniform negatives are trivially easy).
    The 3-row query side broadcasts against the corpus; per-query top-k
    runs as WindowGroupLimit (operators.relational.topk_per_group)."""
    from door2door_etl_spark.operators.relational import topk_per_group
    from door2door_etl_spark.operators.similarity import cosine_similarity

    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(HARDNEG_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 8
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["query_id"], [F.desc("cosine"), F.col("vec_id")], HARDNEG_K
    ).select("query_id", "vec_id", "cosine")


def _sql_hard_negatives() -> str:
    from door2door_etl_spark.queries.sql_fragments import sql_cosine

    ids = ", ".join(str(i) for i in HARDNEG_QUERIES)
    cos = sql_cosine("e.embedding", "q.embedding")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding, label FROM embeddings
  WHERE vec_id IN ({ids})
), scored AS (
  SELECT q.query_id, e.vec_id, round({cos}, 8) AS cosine
  FROM embeddings e JOIN q ON e.label != q.label
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= {HARDNEG_K}
"""


TRAINING_QUERIES.extend(
    [
        QueryDef(
            "ns_negative_samples",
            q_negative_samples,
            _sql_negative_samples(),
            "north-star sampling/contrastive-uniform-negatives",
            ("northstar", "sampling"),
        ),
        QueryDef(
            "ns_hard_negatives",
            q_hard_negatives,
            _sql_hard_negatives(),
            "north-star similarity/hard-negative-mining",
            ("northstar", "similarity"),
        ),
    ]
)


TOKEN_BUDGET = 3000


def q_token_budget_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language token-budget cut (budget=3000): deterministic maximal
    prefix in portable-hash order whose running token total stays within
    budget — the budgeted-mixture primitive rate-sampling only hits in
    expectation (operators.sketches.token_budget_sample)."""
    from door2door_etl_spark.operators.sketches import token_budget_sample

    docs = load_table(spark, sf, "documents")
    kept = token_budget_sample(docs, "lang", "doc_id", TOKEN_BUDGET)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("cum_tokens").cast("bigint").alias("tokens_used"),
    )


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH ordered AS (
  SELECT lang, doc_id,
         sum(len({sql_tokens('text')})) OVER (
           PARTITION BY lang
           ORDER BY {sql_uniform_hash('doc_id', 'tbudget')}, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(max(cum_tokens) AS BIGINT) AS tokens_used
FROM ordered WHERE cum_tokens <= {TOKEN_BUDGET} GROUP BY lang
"""


CONTAM_SHINGLE_N = 3


def q_cross_source_duplication(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source contamination matrix at shingle grain: for every pair
    of sources, how many distinct word 3-grams appear in BOTH — the
    provenance signal that tells a pipeline which feeds mirror each
    other (and therefore which dedup/decontamination pass pays for
    itself).  Scale: per-(shingle, source) distinct collapses map-side
    before the shuffle; the self-join runs on the shingle, and a shingle
    in k sources fans out k(k-1)/2 pairs — bounded by the source count
    squared, never by the corpus."""
    from door2door_etl_spark.operators.dedup import shingles

    from pyspark import StorageLevel

    docs = load_table(spark, sf, "documents")
    # Both sides of the self-join (and nothing else) consume this
    # explode+distinct relation; persist it rather than trusting
    # ReuseExchange to dedup the two aggregate subtrees (AQE
    # re-optimization can break that match — the same lesson as the
    # winnow pair query).  bench's clearCache releases it.
    hs = docs.select(
        F.explode(
            F.array_distinct(shingles(F.col("text"), CONTAM_SHINGLE_N))
        ).alias("s"),
        "source",
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    a = hs.alias("a")
    b = hs.alias("b")
    return (
        a.join(b, "s")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def _sql_cross_source_duplication() -> str:
    from door2door_etl_spark.queries.sql_fragments import sql_shingles

    sh = sql_shingles("text", CONTAM_SHINGLE_N)
    return f"""
WITH hs AS (
  SELECT DISTINCT unnest(list_distinct({sh})) AS s, source FROM documents)
SELECT a.source AS src_a, b.source AS src_b,
       count(*) AS n_shared_shingles
FROM hs a JOIN hs b ON a.s = b.s AND a.source < b.source
GROUP BY 1, 2
"""


TRAINING_QUERIES.extend(
    [
        QueryDef(
            "ns_token_budget_sample",
            q_token_budget_sample,
            SQL_TOKEN_BUDGET_SAMPLE,
            "north-star sampling/token-budget-prefix",
            ("northstar", "sampling"),
        ),
        QueryDef(
            "ns_cross_source_duplication",
            q_cross_source_duplication,
            _sql_cross_source_duplication(),
            "north-star dedup/cross-source-contamination",
            ("northstar", "dedup"),
        ),
    ]
)


WINNOW_K = 8
WINNOW_W = 4
WINNOW_RARE_MAX = 20
WINNOW_MIN_SHARED = 5


def _sql_winnow_fps() -> str:
    """Shared CTE body: the DuckDB twin of operators.text.winnow_fingerprints
    (sha256 char-8-gram hashes, window-of-4 minima, distinct per doc)."""
    return f"""
norm AS (
  SELECT doc_id, regexp_replace(lower(coalesce(text, '')),
                                '[^a-z0-9]', '', 'g') AS s
  FROM documents
), grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(s) - {WINNOW_K - 1}, 1)),
                        i -> substr(sha256(substr(s, i, {WINNOW_K})), 1, 16)) AS hs
  FROM norm
), fps AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1)),
           j -> list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min'))) AS fp
  FROM grams
)"""


def q_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprint profile (Schleimer et al. SIGMOD'03): per
    document, the count of distinct selected fingerprints and the
    lexicographic minimum — the position-independent local-overlap
    signature between exact hashing and MinHash
    (operators.text.winnow_fingerprints; map-side array arithmetic,
    no shuffle until this aggregate)."""
    from door2door_etl_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf, "documents")
    fps = winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_fps"),
        F.min("fp").alias("min_fp"),
    )


SQL_WINNOW_FINGERPRINTS = f"""
WITH {_sql_winnow_fps()}
SELECT doc_id, CAST(count(*) AS INT) AS n_fps, min(fp) AS min_fp
FROM fps GROUP BY doc_id
"""


def q_winnow_shared_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-copy pairs by shared winnowing fingerprints: drop stop-grams
    (fingerprints in more than {rare_max} documents — the common-phrase
    noise floor), pair documents on the surviving RARE fingerprints, and
    keep pairs sharing at least {min_shared}.  The winnowing guarantee
    makes this catch any shared run of w+k-1 = 11+ normalized chars;
    the rare-split bounds the join fanout at rare_max^2 per fingerprint
    (same skew discipline as ngram_jaccard_topk / segment_dedup)."""
    from pyspark import StorageLevel

    from door2door_etl_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf, "documents")
    # The fingerprint relation feeds THREE subtrees (the stop-gram
    # count, and both sides of the pair self-join); uncached, each one
    # re-runs the whole explode+hash+window pipeline.  ~24 B/row, so the
    # cache is trivially resident; bench's clearCache releases it.
    fps = winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= WINNOW_RARE_MAX)
        .select("fp")
    )
    r = fps.join(rare, "fp", "left_semi")
    a = r.alias("a")
    b = r.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


# AS MATERIALIZED on fps: the fingerprint CTE feeds three subtrees (the
# stop-gram count and both sides of the pair self-join); DuckDB 1.0
# re-inlines multi-referenced CTEs, re-running the whole 8-gram
# sha256+window pipeline per reference — at sf1 that's the difference
# between a timeout and ~80 s.  Mirrors the Spark side's .persist().
SQL_WINNOW_SHARED_PAIRS = f"""
WITH {_sql_winnow_fps().replace("), fps AS (", "), fps AS MATERIALIZED (")}, rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {WINNOW_RARE_MAX}
), r AS (
  SELECT f.doc_id, f.fp FROM fps f WHERE f.fp IN (SELECT fp FROM rare)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS INT) AS n_shared
FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


TRAINING_QUERIES.extend(
    [
        QueryDef(
            "ns_winnow_fingerprints",
            q_winnow_fingerprints,
            SQL_WINNOW_FINGERPRINTS,
            "north-star text/winnowing-fingerprints",
            ("northstar", "text"),
        ),
        QueryDef(
            "ns_winnow_shared_pairs",
            q_winnow_shared_pairs,
            SQL_WINNOW_SHARED_PAIRS,
            "north-star dedup/winnowing-near-copy-pairs",
            ("northstar", "dedup"),
        ),
    ]
)


CURR_BUCKETS = 4
CURR_SEED = 42


def q_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum training schedule (Bengio et al. ICML'09): token-count
    difficulty quantile-bucketed easy-first, seeded shuffle within each
    tier, 1-based global positions via the two-phase distributed prefix
    scan — never a one-task global window
    (operators.packing.curriculum_order)."""
    from door2door_etl_spark.operators.packing import curriculum_order

    docs = load_table(spark, sf, "documents").withColumn(
        "difficulty", token_count(F.col("text"))
    )
    out = curriculum_order(
        docs, "difficulty", seed=CURR_SEED, buckets=CURR_BUCKETS,
        persist_input=False,
    )
    return out.select(
        F.col("train_pos").cast("bigint").alias("train_pos"),
        "doc_id",
        F.col("difficulty_bucket").cast("int").alias("difficulty_bucket"),
    )


def _sql_curriculum_order() -> str:
    toks = f"len({sql_tokens('text')})"
    qs = ", ".join(str(i / CURR_BUCKETS) for i in range(1, CURR_BUCKETS))
    return f"""
WITH scored AS (
  SELECT doc_id, {toks} AS difficulty FROM documents
), cuts AS (
  SELECT quantile_cont(difficulty, [{qs}]) AS t FROM scored
), bucketed AS (
  SELECT s.doc_id,
         CAST({" + ".join(
             f"(CASE WHEN s.difficulty > c.t[{i}] THEN 1 ELSE 0 END)"
             for i in range(1, CURR_BUCKETS)
         )} AS INT)
           AS difficulty_bucket
  FROM scored s, cuts c
)
SELECT row_number() OVER (
         ORDER BY concat(lpad(CAST(difficulty_bucket AS VARCHAR), 4, '0'),
                         '|', sha256('{CURR_SEED}' || '|'
                                     || CAST(doc_id AS VARCHAR)))
       ) AS train_pos,
       doc_id, difficulty_bucket
FROM bucketed
"""


TRAINING_QUERIES.append(
    QueryDef(
        "ns_curriculum_order",
        q_curriculum_order,
        _sql_curriculum_order(),
        "north-star packing/curriculum-schedule",
        ("northstar", "packing"),
    )
)


def q_mixed_language_report(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-language detection at SEGMENT grain: split each document
    into 10-word segments, language-ID every segment with the same
    stopword-argmax heuristic as the document-level predictor, and
    report per document how many segments disagree with the whole-doc
    prediction — the code-switching / boilerplate-contamination signal a
    doc-level language filter cannot see.  Scale: segmentation is the
    same map-side array arithmetic as segment_dedup (no per-word
    explode), prediction is per exploded segment row (map-side), and the
    only shuffle is the per-doc rollup."""
    from door2door_etl_spark.operators.text import predict_language

    docs = load_table(spark, sf, "documents")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n_segs = F.ceil(F.size(words) / F.lit(float(SEG_WORDS))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - F.lit(1)),
        lambda i: F.array_join(
            F.slice(words, i * F.lit(SEG_WORDS) + F.lit(1), SEG_WORDS), " "
        ),
    )
    seg_rows = docs.select(
        "doc_id",
        predict_language(F.col("text")).alias("doc_pred"),
        F.explode(segs).alias("seg_text"),
    ).withColumn("seg_pred", predict_language(F.col("seg_text")))
    return seg_rows.groupBy("doc_id", "doc_pred").agg(
        F.count(F.lit(1)).cast("int").alias("n_segs"),
        F.sum(
            F.when(
                (F.col("seg_pred") != F.col("doc_pred"))
                & (F.col("seg_pred") != "und"),
                1,
            ).otherwise(0)
        ).cast("int").alias("n_foreign_segs"),
        F.sum(F.when(F.col("seg_pred") == "und", 1).otherwise(0))
        .cast("int")
        .alias("n_und_segs"),
    )


def _sql_mixed_language_report() -> str:
    from door2door_etl_spark.queries.sql_fragments import sql_lang_pred

    def lang_pred(col: str) -> str:
        return sql_lang_pred(sql_tokens(col))

    return f"""
WITH segs AS (
  SELECT doc_id, {lang_pred('text')} AS doc_pred,
         array_to_string(
           (string_split(coalesce(text, ''), ' '))[s.seg_idx * {SEG_WORDS} + 1
                                     : s.seg_idx * {SEG_WORDS} + {SEG_WORDS}],
           ' ') AS seg_text
  FROM documents,
       LATERAL (SELECT unnest(generate_series(0,
                  CAST(ceil(len(string_split(coalesce(text, ''), ' '))
                            / {SEG_WORDS}.0)
                       AS INT) - 1)) AS seg_idx) s
), scored AS (
  SELECT doc_id, doc_pred, {lang_pred('seg_text')} AS seg_pred FROM segs
)
SELECT doc_id, doc_pred,
       CAST(count(*) AS INT) AS n_segs,
       CAST(sum(CASE WHEN seg_pred != doc_pred AND seg_pred != 'und'
                     THEN 1 ELSE 0 END) AS INT) AS n_foreign_segs,
       CAST(sum(CASE WHEN seg_pred = 'und' THEN 1 ELSE 0 END) AS INT)
         AS n_und_segs
FROM scored GROUP BY 1, 2
"""


TRAINING_QUERIES.append(
    QueryDef(
        "ns_mixed_language_report",
        q_mixed_language_report,
        _sql_mixed_language_report(),
        "north-star text/mixed-language-segments",
        ("northstar", "text"),
    )
)


# -- model-based quality classifier (hashed-BoW logistic regression) --------

CLF_DIM = 64
CLF_ITERS = 2
CLF_LR = 1.0
CLF_LABEL_TOKEN = "dup"  # rare (~5% of docs): the quality-flag class


def _clf_features_and_labels(spark: SparkSession, sf: str):
    from door2door_etl_spark.operators.classifier import hashed_features
    from door2door_etl_spark.operators.text import tokens as tok_expr

    docs = load_table(spark, sf, "documents")
    feats = hashed_features(docs, dim=CLF_DIM, binary=True, intercept=True)
    labels = docs.select(
        "doc_id",
        F.array_contains(tok_expr(F.col("text")), CLF_LABEL_TOKEN)
        .cast("double")
        .alias("y"),
    )
    return docs, feats, labels


def _clf_scored(spark: SparkSession, sf: str) -> DataFrame:
    from door2door_etl_spark.operators.classifier import (
        score_logreg,
        train_logreg,
    )

    from pyspark import StorageLevel

    docs, feats, labels = _clf_features_and_labels(spark, sf)
    # features feed TRAINING and the final scoring pass; persist once at
    # this level (train_logreg detects the caller-managed cache and
    # leaves its lifecycle here — bench/oracle clearCache releases it).
    feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    w = train_logreg(
        feats, labels, iterations=CLF_ITERS, lr=CLF_LR, class_balanced=True
    )
    return score_logreg(docs, feats, w), labels


def q_quality_classifier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END model-based quality filter: train the hashed
    set-of-words logistic regression (full-batch GD, CLF_ITERS
    class-balanced steps — the rare-class correction a 5%-positive
    quality flag needs) on the corpus, then score every document with the
    learned weights — the fastText-style linear quality-classifier pass
    of a CCNet/GPT-3-shaped pipeline (operators.classifier).  The label
    is content-derived (document mentions CLF_LABEL_TOKEN), so the model
    has a real signal to find; pred is decided on the MARGIN sign
    (exact), not the rounded score, so the boundary is float-robust."""
    scored, _ = _clf_scored(spark, sf)
    return scored.select(
        "doc_id", F.round("score", 6).alias("score"), "pred"
    )


def q_quality_classifier_report(spark: SparkSession, sf: str) -> DataFrame:
    """The curator's view of the same trained filter: the confusion
    matrix (true label x predicted keep/drop) with per-cell mean scores —
    the evidence that two balanced GD steps with an intercept actually
    separate the rare class on this corpus (perfect 2-cell diagonal at
    sf0.01) rather than collapsing to the prior."""
    scored, labels = _clf_scored(spark, sf)
    joined = scored.join(labels, "doc_id")
    return joined.groupBy(
        F.col("y").cast("int").alias("label"), "pred"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("score"), 6).alias("mean_score"),
    )


def _sql_clf_ctes() -> str:
    """The full training run, unrolled: presence featurization →
    class-balance weights → CLF_ITERS gradient steps (step 1 closed-form:
    p = 0.5 exactly at w = 0) → final margins.  Each stage is the literal
    SQL rendering of one train_logreg line, over the same portable sha-52
    feature hash (sql_h52 twin of sketches._h52); the iteration chain is
    GENERATED so the oracle stays in lockstep with CLF_ITERS."""
    toks = sql_tokens("text")
    f_idx = f"({sql_h52('tok', 'feat')}) % {CLF_DIM}"
    parts = [f"""feats AS MATERIALIZED (
  SELECT doc_id, {f_idx} AS feature, 1.0 AS value
  FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
  GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, -1 AS feature, 1.0 AS value FROM documents
), lab0 AS (
  SELECT doc_id,
         CASE WHEN list_contains({toks}, '{CLF_LABEL_TOKEN}')
              THEN 1.0 ELSE 0.0 END AS y
  FROM documents
), cnt AS (
  SELECT sum(y) AS npos, sum(1.0 - y) AS nneg FROM lab0
), labels AS MATERIALIZED (
  SELECT doc_id, y,
         1.0 / (2.0 * CASE WHEN y = 1.0 THEN cnt.npos ELSE cnt.nneg END) AS c
  FROM lab0, cnt
), g1 AS (
  SELECT feature, sum(f.value * (0.5 - l.y) * l.c) AS g
  FROM feats f JOIN labels l USING (doc_id) GROUP BY 1
), w1 AS (
  SELECT feature, -{CLF_LR} * g AS w FROM g1
)"""]
    prev_w = "w1"
    for k in range(2, CLF_ITERS + 1):
        parts.append(f""", m{k} AS (
  SELECT f.doc_id, sum(f.value * {prev_w}.w) AS m
  FROM feats f JOIN {prev_w} USING (feature) GROUP BY 1
), e{k} AS (
  SELECT l.doc_id,
         (1.0 / (1.0 + exp(-coalesce(m{k}.m, 0.0))) - l.y) * l.c AS e
  FROM labels l LEFT JOIN m{k} USING (doc_id)
), g{k} AS (
  SELECT feature, sum(f.value * e{k}.e) AS g
  FROM feats f JOIN e{k} USING (doc_id) GROUP BY 1
), w{k} AS (
  SELECT coalesce({prev_w}.feature, g{k}.feature) AS feature,
         coalesce({prev_w}.w, 0.0) - {CLF_LR} * coalesce(g{k}.g, 0.0) AS w
  FROM {prev_w} FULL JOIN g{k} USING (feature)
)""")
        prev_w = f"w{k}"
    parts.append(f""", mf AS (
  SELECT f.doc_id, sum(f.value * {prev_w}.w) AS m
  FROM feats f JOIN {prev_w} USING (feature) GROUP BY 1
), scored AS (
  SELECT d.doc_id,
         1.0 / (1.0 + exp(-coalesce(mf.m, 0.0))) AS score,
         coalesce(mf.m, 0.0) >= 0 AS pred
  FROM documents d LEFT JOIN mf USING (doc_id)
)""")
    return "".join(parts)


def _sql_quality_classifier_scores() -> str:
    return f"""
WITH {_sql_clf_ctes()}
SELECT doc_id, round(score, 6) AS score, pred FROM scored
"""


def _sql_quality_classifier_report() -> str:
    return f"""
WITH {_sql_clf_ctes()}
SELECT CAST(l.y AS INT) AS label, s.pred,
       count(*) AS n_docs,
       round(avg(s.score), 6) AS mean_score
FROM scored s JOIN labels l USING (doc_id)
GROUP BY 1, 2
"""


TRAINING_QUERIES.extend(
    [
        QueryDef(
            "ns_quality_classifier_scores",
            q_quality_classifier_scores,
            _sql_quality_classifier_scores(),
            "north-star text/model-quality-classifier-scores",
            ("northstar", "text"),
        ),
        QueryDef(
            "ns_quality_classifier_report",
            q_quality_classifier_report,
            _sql_quality_classifier_report(),
            "north-star text/model-quality-classifier-report",
            ("northstar", "text"),
        ),
    ]
)


# -- DSIR importance resampling (data selection) ----------------------------

DSIR_DIM = 256
DSIR_K = 50
DSIR_TARGET_SOURCE = "src0"


def _dsir_corpora(spark: SparkSession, sf: str):
    docs = load_table(spark, sf, "documents")
    target = docs.filter(F.col("source") == DSIR_TARGET_SOURCE)
    raw = docs.filter(F.col("source") != DSIR_TARGET_SOURCE)
    return raw, target


def q_dsir_log_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. NeurIPS'23): hashed
    unigram+bigram bag-of-ngrams models of the target corpus (one source)
    and the raw rest, add-one smoothed; per raw document the log
    likelihood ratio sum_b count(b)*(log p(b) - log q(b))
    (operators.selection.dsir_log_weights — dim-bounded broadcast ratio
    table, one partial aggregation)."""
    from door2door_etl_spark.operators.selection import dsir_log_weights

    raw, target = _dsir_corpora(spark, sf)
    lw = dsir_log_weights(raw, target, dim=DSIR_DIM)
    return lw.select("doc_id", F.round("log_w", 6).alias("log_w"))


def q_dsir_gumbel_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The selection step: Gumbel top-k importance resampling — weighted
    sampling WITHOUT replacement from softmax(log_w) via the Gumbel-max
    trick, with the noise derived from doc_id through the portable
    uniform hash so the draw is engine-exact and replayable
    (operators.selection.dsir_select; ordered limit ⇒
    TakeOrderedAndProject, no global sort)."""
    from door2door_etl_spark.operators.selection import dsir_select

    raw, target = _dsir_corpora(spark, sf)
    sel = dsir_select(raw, target, k=DSIR_K, dim=DSIR_DIM)
    return sel.select(
        "doc_id",
        F.round("log_w", 6).alias("log_w"),
        F.round("score", 6).alias("score"),
    )


def _sql_dsir_ctes() -> str:
    """tg/rg gram rows → p/q bucket models → broadcastable ratio → lw:
    the literal SQL rendering of operators.selection.dsir_log_weights
    over the same portable contract (sql_tokens ++ sql_shingles(2) grams,
    sql_h52 bucketing, add-one smoothing, ln ratios)."""
    from door2door_etl_spark.queries.sql_fragments import sql_shingles

    grams = (
        f"list_concat({sql_tokens('text')}, {sql_shingles('text', 2)})"
    )
    bucket = f"({sql_h52('g', 'dsir')}) % {DSIR_DIM}"
    return f"""tgt AS (
  SELECT doc_id, text FROM documents WHERE source = '{DSIR_TARGET_SOURCE}'
), rawc AS (
  SELECT doc_id, text FROM documents WHERE source <> '{DSIR_TARGET_SOURCE}'
), tg AS MATERIALIZED (
  SELECT doc_id, {bucket} AS bucket, count(*) AS cnt
  FROM (SELECT doc_id, unnest({grams}) AS g FROM tgt) WHERE g <> ''
  GROUP BY 1, 2
), rg AS MATERIALIZED (
  SELECT doc_id, {bucket} AS bucket, count(*) AS cnt
  FROM (SELECT doc_id, unnest({grams}) AS g FROM rawc) WHERE g <> ''
  GROUP BY 1, 2
), p AS (
  SELECT bucket, sum(cnt) AS cp FROM tg GROUP BY 1
), q AS (
  SELECT bucket, sum(cnt) AS cq FROM rg GROUP BY 1
), tot AS (
  SELECT (SELECT sum(cnt) FROM tg) AS tp, (SELECT sum(cnt) FROM rg) AS tq
), ratio AS (
  SELECT bucket,
         ln(CAST(coalesce(cp, 0) + 1 AS DOUBLE) / (tot.tp + {DSIR_DIM}))
       - ln(CAST(coalesce(cq, 0) + 1 AS DOUBLE) / (tot.tq + {DSIR_DIM}))
           AS log_ratio
  FROM p FULL JOIN q USING (bucket), tot
), w AS (
  SELECT rg.doc_id, sum(rg.cnt * ratio.log_ratio) AS log_w
  FROM rg JOIN ratio USING (bucket) GROUP BY 1
), lw AS (
  SELECT r.doc_id, coalesce(w.log_w, 0.0) AS log_w
  FROM rawc r LEFT JOIN w USING (doc_id)
)"""


def _sql_dsir_log_weights() -> str:
    return f"""
WITH {_sql_dsir_ctes()}
SELECT doc_id, round(log_w, 6) AS log_w FROM lw
"""


def _sql_dsir_gumbel_topk() -> str:
    u = sql_uniform_hash("doc_id", "gumbel")
    return f"""
WITH {_sql_dsir_ctes()},
scored AS (
  SELECT doc_id, log_w,
         log_w + (-ln(-ln({u} + 0.5 / 4503599627370496.0))) AS score
  FROM lw)
SELECT doc_id, round(log_w, 6) AS log_w, round(score, 6) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT {DSIR_K}
"""


TRAINING_QUERIES.extend(
    [
        QueryDef(
            "ns_dsir_log_weights",
            q_dsir_log_weights,
            _sql_dsir_log_weights(),
            "north-star selection/dsir-importance-weights",
            ("northstar", "selection"),
        ),
        QueryDef(
            "ns_dsir_gumbel_topk",
            q_dsir_gumbel_topk,
            _sql_dsir_gumbel_topk(),
            "north-star selection/dsir-gumbel-topk-resample",
            ("northstar", "selection"),
        ),
    ]
)


# -- DoReMi-style domain reweighting ----------------------------------------

DOREMI_ETA = 1.0
DOREMI_UNIFORM = 0.2


def q_doremi_domain_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture optimization: per-source excess loss (corpus
    unigram model vs the domain's own — a smoothed KL(domain || corpus))
    exponentiated into multiplicative weights and smoothed with 20%
    uniform, following the DoReMi reweighting form
    (operators.selection.doremi_domain_weights).  The output is the
    sampling distribution a mixture sampler (ns_domain_mix_sample /
    ns_temperature_mix_sample) would consume."""
    from door2door_etl_spark.operators.selection import doremi_domain_weights

    docs = load_table(spark, sf, "documents")
    w = doremi_domain_weights(
        docs, domain_col="source", eta=DOREMI_ETA, uniform_mix=DOREMI_UNIFORM
    )
    return w.select(
        F.col("domain"),
        "n_docs",
        "n_tokens",
        F.round("excess_loss", 6).alias("excess_loss"),
        F.round("weight", 6).alias("weight"),
    )


def _sql_doremi_domain_weights() -> str:
    toks = sql_tokens("text")
    return f"""
WITH tok_rows AS MATERIALIZED (
  SELECT source AS domain, unnest({toks}) AS tok FROM documents
), dom_counts AS MATERIALIZED (
  SELECT domain, tok, count(*) AS cd FROM tok_rows GROUP BY 1, 2
), corpus_counts AS (
  SELECT tok, count(*) AS cc FROM tok_rows GROUP BY 1
), scal AS (
  SELECT CAST(sum(cc) AS BIGINT) AS tc, count(*) AS v FROM corpus_counts
), dom_tot AS (
  SELECT domain, CAST(sum(cd) AS BIGINT) AS td FROM dom_counts GROUP BY 1
), per AS (
  SELECT d.domain, any_value(t.td) AS td,
         sum(d.cd * (ln(CAST(d.cd + 1 AS DOUBLE) / (t.td + s.v))
                   - ln(CAST(c.cc + 1 AS DOUBLE) / (s.tc + s.v)))) AS term_sum
  FROM dom_counts d
  JOIN corpus_counts c USING (tok)
  JOIN dom_tot t USING (domain), scal s
  GROUP BY 1
), nd AS (
  SELECT source AS domain, count(*) AS n_docs FROM documents GROUP BY 1
), ex AS (
  SELECT domain, n_docs, td AS n_tokens, term_sum / td AS excess
  FROM per JOIN nd USING (domain)
), sc AS (
  SELECT *, exp({DOREMI_ETA} * excess) AS a FROM ex
), nrm AS (
  SELECT sum(a) AS z, count(*) AS k FROM sc
)
SELECT domain, n_docs, n_tokens,
       round(excess, 6) AS excess_loss,
       round((1 - {DOREMI_UNIFORM}) * (a / z) + {DOREMI_UNIFORM} / k, 6)
         AS weight
FROM sc, nrm
"""


TRAINING_QUERIES.append(
    QueryDef(
        "ns_doremi_domain_weights",
        q_doremi_domain_weights,
        _sql_doremi_domain_weights(),
        "north-star selection/doremi-domain-reweighting",
        ("northstar", "selection"),
    )
)


# -- HDR histogram quantile sketch ------------------------------------------

HDR_SUB_BITS = 4


def q_hdr_quantiles_chars(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-quantile evidence: per-language p50/p90/p99 of document
    length from the portable HDR log2 histogram sketch
    (operators.sketches.hdr_histogram_table / hdr_quantiles) — the
    rollup-able quantile path for 100 TB (bin tables merge by summing,
    unlike approx_percentile's opaque sketch), binning bit-identical in
    any engine (bit-length arithmetic, no floating log)."""
    from door2door_etl_spark.operators.sketches import (
        hdr_histogram_table,
        hdr_quantiles,
    )

    docs = load_table(spark, sf, "documents")
    hist = hdr_histogram_table(docs, ["lang"], "n_chars", sub_bits=HDR_SUB_BITS)
    return hdr_quantiles(
        hist, ["lang"], quantiles=[0.5, 0.9, 0.99], sub_bits=HDR_SUB_BITS
    )


def _sql_hdr_quantiles_chars() -> str:
    s = HDR_SUB_BITS
    sub = 1 << s
    lower = (
        f"CASE WHEN {{b}} < {sub} THEN {{b}} "
        f"ELSE ({sub} + {{b}} % {sub}) << (({{b}} // {sub}) - 1) END"
    )
    sels = []
    for q in (0.5, 0.9, 0.99):
        b = f"min(CASE WHEN cum >= ceil({q} * n) THEN bin END)"
        sels.append(
            f"CAST({lower.format(b=b)} AS BIGINT) AS q_{int(q * 100)}"
        )
    return f"""
WITH b AS (
  SELECT lang,
         CASE WHEN greatest(n_chars, 0) < {sub} THEN greatest(n_chars, 0)
              ELSE (length(bin(n_chars)) - 1 - {s}) * {sub}
                   + (n_chars >> (length(bin(n_chars)) - 1 - {s})) END AS bin
  FROM documents),
g AS (SELECT lang, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
c AS (SELECT lang, bin, cnt,
             sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n
      FROM g)
SELECT lang, CAST(any_value(n) AS BIGINT) AS n, {", ".join(sels)}
FROM c GROUP BY lang
"""


TRAINING_QUERIES.append(
    QueryDef(
        "ns_hdr_quantiles_chars",
        q_hdr_quantiles_chars,
        _sql_hdr_quantiles_chars(),
        "north-star sketches/hdr-histogram-quantiles",
        ("northstar", "sketches"),
    )
)


def q_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style blocklist filtering (operators.text.blocklist_filter):
    a mixed 1-gram/2-gram term list matched on token boundaries inside
    ONE Catalyst transform lambda (tokens bound once, term lists inlined
    as broadcast literals — a map-only scan, no joins).  Per-source
    report: documents scanned / blocked / total distinct-term hits."""
    from door2door_etl_spark.operators.text import blocklist_filter

    docs = load_table(spark, sf, "documents")
    flagged = blocklist_filter(
        docs, ["vector", "slow merge", "big query", "hash join"]
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("keep")).cast("long")).alias("n_blocked"),
            F.sum("n_blocklist_hits").cast("long").alias("total_hits"),
        )
        .orderBy("source")
    )


from door2door_etl_spark.queries.sql_fragments import sql_shingles as _bl_shingles

_BL_G1 = _bl_shingles("text", 1)
_BL_G2 = _bl_shingles("text", 2)
SQL_BLOCKLIST_FILTER = f"""
WITH h AS (
  SELECT source,
         len(list_intersect(list_distinct({_BL_G1}), ['vector']))
         + len(list_intersect(list_distinct({_BL_G2}),
               ['big query', 'hash join', 'slow merge'])) AS hits
  FROM documents)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       CAST(sum(hits) AS BIGINT) AS total_hits
FROM h GROUP BY source ORDER BY source
"""

TRAINING_QUERIES.append(
    QueryDef(
        "ns_blocklist_filter",
        q_blocklist_filter,
        SQL_BLOCKLIST_FILTER,
        "north-star text/c4-blocklist (token-boundary phrase matching, map-only)",
        ("northstar", "text"),
    )
)


COVMAX_K = 5
COVMAX_N = 3


def q_coverage_max_select(spark: SparkSession, sf: str) -> DataFrame:
    """Coverage-driven curation sampling: greedy facility-location
    selection (operators.selection.coverage_max_select) — 5 documents
    picked to jointly span the most distinct word-trigram shingles.
    The oracle unrolls the identical greedy rounds as CTEs (per-step
    uncovered-gain argmax + cumulative covered set), so the whole
    trajectory — gains, cumulative coverage, tie-breaks — is
    hash-checked, not just the final id set."""
    from door2door_etl_spark.operators.selection import coverage_max_select

    docs = load_table(spark, sf, "documents")
    return coverage_max_select(docs, k=COVMAX_K, shingle_n=COVMAX_N).orderBy(
        "step"
    )


def _sql_coverage_max_select() -> str:
    shex = _bl_shingles("text", COVMAX_N)
    parts = [
        f"""
WITH sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest({shex}) AS shingle FROM documents)),
g1 AS MATERIALIZED (SELECT doc_id, count(*) AS gain FROM sh GROUP BY 1
       ORDER BY gain DESC, doc_id LIMIT 1),
cov1 AS MATERIALIZED (SELECT DISTINCT shingle FROM sh
         WHERE doc_id = (SELECT doc_id FROM g1)),
r1 AS (SELECT 1 AS step, doc_id, gain,
              (SELECT count(*) FROM cov1) AS covered_total FROM g1)"""
    ]
    for i in range(2, COVMAX_K + 1):
        prev_picks = " UNION ALL ".join(
            f"SELECT doc_id FROM g{j}" for j in range(1, i)
        )
        parts.append(
            f""",
g{i} AS MATERIALIZED (SELECT s.doc_id, count(*) AS gain FROM sh s
       WHERE s.doc_id NOT IN ({prev_picks})
         AND s.shingle NOT IN (SELECT shingle FROM cov{i - 1})
       GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
cov{i} AS MATERIALIZED (SELECT shingle FROM cov{i - 1}
         UNION
         SELECT shingle FROM sh WHERE doc_id = (SELECT doc_id FROM g{i})),
r{i} AS (SELECT {i} AS step, doc_id, gain,
              (SELECT count(*) FROM cov{i}) AS covered_total FROM g{i})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM r{j}" for j in range(1, COVMAX_K + 1))
    parts.append(f"\n{union} ORDER BY step")
    return "".join(parts)


TRAINING_QUERIES.append(
    QueryDef(
        "ns_coverage_max_select",
        q_coverage_max_select,
        _sql_coverage_max_select(),
        "coverage-driven curation: greedy facility-location doc selection (unrolled-round oracle)",
        ("northstar", "selection"),
    )
)
