"""Data selection: DSIR-style importance resampling (Xie et al.,
NeurIPS 2023, arXiv:2302.03169) — pick the raw-corpus documents that look
most like a small target corpus — and DoReMi-style domain reweighting
(Xie et al., NeurIPS 2023, arXiv:2305.10429) — turn per-domain excess
loss into a sampling distribution.  Together they are the standard
pretraining-data selection steps between crawling and tokenization.

Reference parity: the reference repo has no selection surface (SURVEY.md
§2) — this is part of the north-star LLM-data-pipeline pack, on the same
portable contract as the sketches (sha-52 hashing, tokenizer regex,
exact-rational probabilities) so every stage has an exact DuckDB twin.

Method (faithful to the paper, deterministic throughout):
1. featurize both corpora as HASHED n-grams (unigrams + word bigrams
   into ``dim`` buckets — the hashing trick bounds model size regardless
   of vocabulary);
2. fit two add-one-smoothed bag-of-ngrams models p (target) and q (raw);
3. per raw document, log importance weight
   ``log w(x) = sum_b count_x(b) * (log p(b) - log q(b))``;
4. resample via Gumbel top-k (weighted sampling WITHOUT replacement):
   ``score = log w(x) + Gumbel(0,1)`` with the Gumbel noise derived from
   the document id through the portable uniform hash — reproducible
   noise, same draw in any engine.

Spark-first scale shape (100 TB posture): the n-gram models are
``dim``-bounded relations (one groupBy each), the log-ratio table always
broadcasts, the per-doc weight is one broadcast join + one partial
aggregation over the exploded gram rows, and the Gumbel top-k is an
ordered limit (TakeOrderedAndProject) — no driver state anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from door2door_etl_spark.operators import local
from door2door_etl_spark.operators.sketches import _h52, uniform_hash
from door2door_etl_spark.operators.text import shingles_from_tokens, tokens

DSIR_SALT = "dsir"


def _grams(col: Column) -> Column:
    """Unigrams + word bigrams of the portable tokenizer.  Bigrams use the
    same space-joined rendering (and short-doc fallback) as the shingle
    contract, so the DuckDB twin is sql_tokens || sql_shingles(n=2).
    The token array is BOUND ONCE via the single-element transform lambda
    (same discipline as text.shingles — Catalyst does not CSE through
    lambda bodies, and an unbound reference re-tokenizes per shingle)."""
    return F.transform(
        F.array(tokens(col)),
        lambda toks: F.concat(toks, shingles_from_tokens(toks, 2)),
    )[0]


def hashed_gram_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    salt: str = DSIR_SALT,
) -> DataFrame:
    """(id, bucket, cnt): per-document hashed n-gram counts.

    Width-normalized at entry: the gram explode + sha bucketing is the
    per-row-dense stage and callers persist the result once."""
    from door2door_etl_spark.io.readers import widen_if_narrow

    docs = widen_if_narrow(docs)
    return (
        docs.select(
            F.col(id_col), F.explode(_grams(F.col(text_col))).alias("_g")
        )
        # the shingle short-doc fallback renders a ZERO-token document as
        # one "" gram; for a language model that phantom gram is noise
        # (and would make empty docs non-neutral), so drop it — real
        # grams are never empty (tokens are non-empty by construction)
        .filter(F.col("_g") != "")
        .groupBy(id_col, (_h52(F.col("_g"), salt) % dim).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucket_counts(gram_rows: DataFrame) -> DataFrame:
    """(bucket, c): corpus-level bucket counts — only observed buckets get
    a row, so the model relation never exceeds min(dim, observed)."""
    return gram_rows.groupBy("bucket").agg(F.sum("cnt").alias("c"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    salt: str = DSIR_SALT,
) -> DataFrame:
    """(id, log_w): per-raw-document DSIR log importance weight
    ``sum_b count(b) * (log p_target(b) - log q_raw(b))`` with add-one
    smoothing: ``p(b) = (c_b + 1) / (total + dim)``.

    The ratio table is dim-bounded and broadcast; a bucket unseen in a
    corpus takes that corpus's smoothed floor ``log(1/(total+dim))``
    (folded in from the one-row totals relation — the floors are
    corpus-level scalars).  Every raw gram bucket is observed in q by
    construction, so only the target floor ever reads.  Documents with
    no grams at all (empty text) get log_w = 0 — neutral, neither
    boosted nor buried."""
    from pyspark import StorageLevel

    # Both gram relations feed multiple subtrees (bucket model + totals;
    # raw additionally the per-doc weight join): uncached, every consumer
    # re-tokenizes and re-hashes the corpus — measured as 6 full document
    # scans in the uncached plan.  ~16 B/row, trivially resident.
    raw_rows = hashed_gram_rows(raw, text_col, id_col, dim, salt).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    tgt_rows = hashed_gram_rows(target, text_col, id_col, dim, salt).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    p = _bucket_counts(tgt_rows).select("bucket", F.col("c").alias("cp"))
    q = _bucket_counts(raw_rows).select("bucket", F.col("c").alias("cq"))
    totals = (
        tgt_rows.agg(F.sum("cnt").alias("_tp"))
        .crossJoin(raw_rows.agg(F.sum("cnt").alias("_tq")))
    )
    ratio = (
        p.join(q, "bucket", "full")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("cp", F.lit(0)) + 1).cast("double")
                    / (F.col("_tp") + F.lit(dim))
                )
                - F.log(
                    (F.coalesce("cq", F.lit(0)) + 1).cast("double")
                    / (F.col("_tq") + F.lit(dim))
                )
            ).alias("log_ratio"),
        )
    )
    weights = (
        raw_rows.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_w"))
    )
    return raw.select(id_col).join(weights, id_col, "left").select(
        id_col, F.coalesce("log_w", F.lit(0.0)).alias("log_w")
    )


def gumbel_noise(col: Column, salt: str = "gumbel") -> Column:
    """Reproducible Gumbel(0,1) draw per key from the portable uniform
    hash: g = -log(-log(u)).  u is a 52-bit dyadic rational in (0, 1)
    after the +0.5/2^52 half-step (u = 0 would blow up the outer log);
    the same expression renders in DuckDB, so resampling is engine-exact."""
    from door2door_etl_spark.operators.sketches import HASH_SPACE

    u = uniform_hash(col, salt) + F.lit(0.5 / HASH_SPACE)
    return -F.log(-F.log(u))


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    salt: str = DSIR_SALT,
    temperature: float = 1.0,
    gumbel: bool = True,
) -> DataFrame:
    """Gumbel top-k importance resampling: the ``k`` raw documents with the
    highest ``log_w / temperature + Gumbel(0,1)`` — equivalent to weighted
    sampling without replacement from softmax(log_w / temperature)
    (Gumbel-max trick), fully deterministic through the hash-derived
    noise.  ``gumbel=False`` degrades to plain deterministic top-k by
    weight.  Ordered limit ⇒ TakeOrderedAndProject, no global sort."""
    lw = dsir_log_weights(raw, target, text_col, id_col, dim, salt)
    score = F.col("log_w") / F.lit(temperature)
    if gumbel:
        score = score + gumbel_noise(F.col(id_col))
    return (
        lw.select(id_col, "log_w", score.alias("score"))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def domain_excess_loss(
    docs: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(domain, n_docs, n_tokens, excess_loss): per-domain excess loss of
    the CORPUS-wide unigram model over the domain's OWN unigram model on
    the domain's tokens — per-token, add-one smoothed over the shared
    corpus vocabulary:

        excess(d) = NLL_corpus(d) - NLL_domain(d)
                  = (1/T_d) * sum_tok c_d(tok) *
                      (log p_d(tok) - log p_corpus(tok))

    i.e. a smoothed estimate of KL(domain || corpus): how much a generic
    model underfits this domain.  This is the proxy-loss signal DoReMi
    (Xie et al., NeurIPS 2023, arXiv:2305.10429) feeds its domain
    reweighting; here the proxy is the engine's own unigram LM rather
    than a trained transformer, which keeps the whole computation exact
    and oracle-checkable.

    Scale shape: one token explode, two vocabulary-keyed aggregations
    (domain x token, token), one join between them on token, then
    domain-sized relations only."""
    from pyspark import StorageLevel

    tok_rows = docs.select(
        F.col(domain_col).alias("domain"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    # dom_counts feeds the corpus model, the domain totals, AND the
    # per-token loss join; persist the (domain x token)-bounded relation
    # so the corpus tokenize+explode runs once, not per consumer.
    dom_counts = tok_rows.groupBy("domain", "tok").agg(
        F.count(F.lit(1)).alias("cd")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the corpus model is the domain model summed out — no second scan
    corpus_counts = dom_counts.groupBy("tok").agg(F.sum("cd").alias("cc"))
    scalars = corpus_counts.agg(
        F.sum("cc").alias("_tc"), F.count(F.lit(1)).alias("_v")
    )
    dom_totals = dom_counts.groupBy("domain").agg(F.sum("cd").alias("td"))
    per_tok = (
        dom_counts.join(corpus_counts, "tok")
        .join(F.broadcast(dom_totals), "domain")
        .crossJoin(F.broadcast(scalars))
        .select(
            "domain",
            "td",
            (
                F.col("cd")
                * (
                    F.log(
                        (F.col("cd") + 1).cast("double")
                        / (F.col("td") + F.col("_v"))
                    )
                    - F.log(
                        (F.col("cc") + 1).cast("double")
                        / (F.col("_tc") + F.col("_v"))
                    )
                )
            ).alias("term"),
        )
    )
    n_docs = docs.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        per_tok.groupBy("domain")
        .agg(
            F.any_value("td").alias("n_tokens"),
            (F.sum("term") / F.any_value("td")).alias("excess_loss"),
        )
        .join(n_docs, "domain")
        .select("domain", "n_docs", "n_tokens", "excess_loss")
    )


def doremi_domain_weights(
    docs: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    eta: float = 1.0,
    uniform_mix: float = 0.2,
) -> DataFrame:
    """DoReMi-style domain reweighting: exponentiate the per-domain
    excess loss (multiplicative-weights step, step size ``eta``),
    normalize to a distribution, and smooth with ``uniform_mix`` of the
    uniform distribution — the paper's final mixing step, which keeps
    every domain sampled:

        alpha_d ∝ exp(eta * excess(d));
        weight_d = (1 - u) * alpha_d + u / n_domains

    Returns (domain, n_docs, n_tokens, excess_loss, weight); weights sum
    to 1.  Everything after the excess-loss aggregation runs on a
    domain-sized relation (a one-row softmax normalizer broadcast —
    no driver state, no collect)."""
    ex = domain_excess_loss(docs, domain_col, text_col)
    scored = ex.select(
        "domain", "n_docs", "n_tokens", "excess_loss",
        F.exp(F.lit(eta) * F.col("excess_loss")).alias("_a"),
    )
    norm = scored.agg(
        F.sum("_a").alias("_z"), F.count(F.lit(1)).alias("_k")
    )
    return scored.crossJoin(F.broadcast(norm)).select(
        "domain",
        "n_docs",
        "n_tokens",
        "excess_loss",
        (
            F.lit(1.0 - uniform_mix) * (F.col("_a") / F.col("_z"))
            + F.lit(uniform_mix) / F.col("_k")
        ).alias("weight"),
    )


def coverage_max_select(
    docs: DataFrame,
    k: int = 5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy maximum-coverage subset selection (the facility-location
    objective): pick ``k`` documents one at a time, each maximizing the
    number of corpus shingles NOT yet covered by the picks so far — the
    classic (1 − 1/e)-approximate greedy for a monotone submodular
    objective (Nemhauser, Wolsey & Fisher 1978), and the
    coverage-driven counterpart to embedding-based diverse selection
    (:func:`~door2door_etl_spark.operators.similarity.mmr_topk`): MMR
    diversifies against pairwise similarity, this maximizes what the
    selected set jointly SPANS.

    Distribution shape: the (doc, shingle) incidence relation is built
    once (in-row shingling, one distinct) and checkpointed; at most
    ``local.MAX_ROWS`` rows (:mod:`~door2door_etl_spark.operators.local`;
    the count rides the checkpoint job) and the k greedy rounds
    complete on the driver as exact integer set arithmetic —
    bit-identical picks, property-tested — instead of k jobs of
    scheduler latency.  Above the gate each of the k rounds is ONE job
    — a left-anti join against the covered set (the union of the
    picked docs' shingle slices of the checkpointed
    relation; duplicates are harmless to an anti join, so no distinct,
    no re-checkpoint) + a per-doc count + an ordered take-1 — all
    shuffle-bounded by the incidence relation, never a doc×doc
    interaction.  ``covered_total`` costs nothing: it is the running
    sum of gains (|covered ∪ pickᵢ| = |covered| + gainᵢ by
    construction), so no per-round count job.  Driver state is k
    picked rows.  Determinism: (gain DESC, id ASC) tie-break.  Stops
    early (< k rows) only when every remaining doc is fully covered.

    Output: ``(step, <id_col>, gain, covered_total)`` — gain = newly
    covered shingles at pick time, covered_total = cumulative distinct
    shingles covered.
    """
    from door2door_etl_spark.operators.text import shingles

    n_obs = Observation()
    sh = (
        docs.select(
            F.col(id_col),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("shingle"),
        )
        .distinct()
        .observe(n_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    spark = docs.sparkSession
    id_type = sh.schema[id_col].dataType
    out_rows: list[tuple] = []
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("step", IntegerType(), False),
            StructField(id_col, id_type, False),
            StructField("gain", LongType(), False),
            StructField("covered_total", LongType(), False),
        ]
    )
    # SMALL-RELATION COMPLETION (the module gate discipline; VERDICT
    # r12 ask #8): the shingling, dedup and checkpoint — everything
    # data-sized — stay in Spark; when the checkpointed incidence
    # relation is broadcast-sized (its count observed on the checkpoint
    # job), the k greedy rounds run as exact Python-set arithmetic on
    # the driver instead of k anti-join + aggregate + ordered-take jobs.
    # Pure integer gains and the identical (gain DESC, id ASC)
    # tie-break (ints, or strings in UTF-8 ≡ code-point order) —
    # bit-identical picks, property-tested against the forced BSP loop.
    rows = local.rows_if_small(sh, local.MAX_ROWS, n=int(n_obs.get["n"]))
    if rows is not None:
        doc_sh: dict = {}
        for r in rows:
            doc_sh.setdefault(r[id_col], set()).add(r["shingle"])
        covered_set: set = set()
        total = 0
        for step in range(1, int(k) + 1):
            best = None
            for d, s in doc_sh.items():
                gain = len(s - covered_set)
                if gain <= 0:
                    continue
                key = (-gain, d)
                if best is None or key < best[0]:
                    best = (key, d, gain, s)
            if best is None:
                break
            _, d, gain, s = best
            covered_set |= s
            total += gain
            out_rows.append((step, d, gain, total))
            del doc_sh[d]
        return local.frame(spark, out_rows, out_schema)
    covered: DataFrame | None = None
    picked_ids: list = []
    for step in range(1, int(k) + 1):
        cand = sh
        if picked_ids:
            cand = cand.filter(~F.col(id_col).isin(picked_ids))
        if covered is not None:
            cand = cand.join(covered, "shingle", "left_anti")
        rows = (
            cand.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not rows:
            break
        r = rows[0]
        picked_ids.append(r[id_col])
        new_cov = sh.filter(F.col(id_col) == F.lit(r[id_col])).select("shingle")
        covered = new_cov if covered is None else covered.unionAll(new_cov)
        total = (out_rows[-1][3] if out_rows else 0) + int(r["gain"])
        out_rows.append((step, r[id_col], int(r["gain"]), total))
    return local.frame(spark, out_rows, out_schema)
