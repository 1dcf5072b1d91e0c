"""End-to-end corpus curation: the composed pretraining-data funnel.

The reference stops at warehouse ETL (README.md:18-41); the north-star
operator pack gives this engine every individual curation stage a
100 TB training-data pipeline needs.  This module is the COMPOSITION —
the RefinedWeb/FineWeb-shaped funnel users actually run:

    normalize → language-id → quality rules → exact dedup →
    MinHash-LSH near-dedup (connected-components canonical) →
    benchmark decontamination → (optional) token-budget sampling

Every stage delegates to the already-oracle-verified operator; this
module adds the chaining discipline that matters at scale:

* each stage boundary is persisted once (MEMORY_AND_DISK) so the funnel
  is N sequential passes, never a recompute tree — and the stage counts
  the funnel report needs come from the SAME persisted relations;
* filters stay map-side where the operator allows (langid, quality are
  pure column expressions; decontamination is a broadcast semi join);
* the near-dup stage dedups the *candidate-pair graph*, never the
  corpus (banded LSH + pointer-jumping components).

``curate_corpus`` returns ``(kept, funnel)``: the surviving documents
and a small stage/docs_in/docs_out report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from door2door_etl_spark.operators import local
from door2door_etl_spark.operators.dedup import (
    connected_dedup_clusters,
    exact_dedup_groups,
    minhash_lsh_candidate_pairs,
    ngram_decontaminate,
)
from door2door_etl_spark.operators.text import (
    gopher_quality_flags,
    normalize_text,
    predict_language,
)


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] | None = ("en",),
    gopher: bool = True,
    min_words: int = 30,
    exact: bool = True,
    neardup: bool = True,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    benchmark: DataFrame | None = None,
    decon_shingle_n: int = 3,
    budget_tokens: int | None = None,
    budget_group_col: str = "source",
) -> tuple[DataFrame, DataFrame]:
    """Run the curation funnel over ``docs``; every stage is optional.

    Returns ``(kept, funnel)`` where ``funnel`` has one row per executed
    stage: ``(stage, docs_in, docs_out)``.  Stage semantics match the
    individual catalog operators exactly (same thresholds, same
    canonical-id rules), so each stage of the funnel is independently
    oracle-checkable — ``ns_curation_funnel`` pins the whole chain.
    """
    stages: list[tuple[str, int, int]] = []
    # Width-normalize ONCE at funnel entry: every downstream stage (and
    # its persist) inherits this partitioning, so a narrow input — one
    # parquet file = one partition at test scale — would otherwise run
    # the WHOLE funnel single-core (measured: 12 of the funnel's 13 s
    # at sf0.1 were the near-dup stage's sha256 minhash work on one
    # partition).  At production scale the input already arrives wider
    # than the cluster's parallelism and this is a skipped no-op guard,
    # not a shuffle.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    # The raw input is consumed exactly once — by the fused map-side block
    # below — and ``normalize`` is a 1:1 map, so the funnel's input count
    # IS the block's ``_n_norm`` aggregate: no separate persist+count pass
    # over the raw corpus (one full materialization fewer, and the raw
    # bytes never occupy cache alongside the normalized copy).
    cur = docs
    # The persisted relation each downstream stage reads; unpersisted only
    # after its successor is materialized (``cur`` itself may be a cheap
    # filtered VIEW of it after the fused map-side block below).
    held: DataFrame | None = None

    def advance(name: str, nxt: DataFrame) -> None:
        nonlocal cur, n_cur, held
        nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
        n_nxt = nxt.count()
        stages.append((name, n_cur, n_nxt))
        if held is not None:
            held.unpersist()
        held = nxt
        cur, n_cur = nxt, n_nxt

    # Fused map-side block: normalize, language-id and the Gopher rules
    # are all pure column expressions, so they run as ONE projection,
    # ONE persist and ONE conditional-count aggregate instead of three
    # persisted passes with a count each.  Stage counts are identical by
    # construction: normalize is a map (count unchanged); the language
    # stage's survivor count is count_if(lang_ok); the quality stage —
    # computed on the language survivors before, but a pure per-row
    # predicate — is count_if(lang_ok AND keep).
    staged = normalize_text(cur, text_col, out_col=text_col)
    conds: list = []
    aggs = [F.count(F.lit(1)).alias("_n_norm")]
    flag_cols: list[str] = []
    if langs is not None:
        staged = staged.withColumn(
            "_lang_ok", predict_language(F.col(text_col)).isin(*langs)
        )
        conds.append(F.col("_lang_ok"))
        flag_cols.append("_lang_ok")
        lang_cond = conds[0]
        aggs.append(F.count_if(lang_cond).alias("_n_lang"))
    if gopher:
        staged = gopher_quality_flags(staged, text_col, min_words=min_words)
        conds.append(F.col("keep"))
        flag_cols += [
            "word_count", "mean_word_len", "alpha_frac", "stop_hits", "keep"
        ]
        quality_cond = conds[0] if len(conds) == 1 else (conds[0] & conds[1])
        aggs.append(F.count_if(quality_cond).alias("_n_quality"))
    staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    counts = staged.agg(*aggs).collect()[0]
    # normalize is 1:1, so docs_in == docs_out == _n_norm — the separate
    # input-count pass this used to take is definitionally redundant.
    prev = counts["_n_norm"]
    stages.append(("normalize", prev, counts["_n_norm"]))
    if langs is not None:
        stages.append(("language_id", prev, counts["_n_lang"]))
        prev = counts["_n_lang"]
    if gopher:
        stages.append(("quality_rules", prev, counts["_n_quality"]))
        prev = counts["_n_quality"]
    held = staged
    keep_cond = None
    for c in conds:
        keep_cond = c if keep_cond is None else (keep_cond & c)
    cur = staged.filter(keep_cond) if keep_cond is not None else staged
    if flag_cols:
        cur = cur.drop(*flag_cols)
    n_cur = prev

    if exact:
        canon = exact_dedup_groups(cur, text_col, id_col).select(
            F.col("canonical_id").alias(id_col)
        )
        advance("exact_dedup", cur.join(canon, id_col, "leftsemi"))

    if neardup:
        pairs = minhash_lsh_candidate_pairs(
            cur, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col,
        )
        clusters = connected_dedup_clusters(pairs, "id_a", "id_b")
        dropped = clusters.filter(
            F.col("doc_id") != F.col("canonical_id")
        ).select(F.col("doc_id").alias(id_col))
        advance("near_dedup", cur.join(dropped, id_col, "left_anti"))

    if benchmark is not None:
        advance(
            "decontaminate",
            ngram_decontaminate(
                cur, benchmark, text_col=text_col, id_col=id_col,
                shingle_n=decon_shingle_n,
            ),
        )

    if budget_tokens is not None:
        from door2door_etl_spark.operators.sketches import token_budget_sample

        advance(
            "token_budget",
            token_budget_sample(
                cur, budget_group_col, id_col, budget_tokens, text_col=text_col
            ).drop("cum_tokens"),
        )

    funnel = local.frame(
        spark, stages, "stage string, docs_in long, docs_out long"
    )
    return cur, funnel
