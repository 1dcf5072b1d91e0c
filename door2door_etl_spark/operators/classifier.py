"""Model-based quality classification: hashed bag-of-words logistic
regression (the fastText-style linear text classifier used as the quality
filter in CCNet/GPT-3-shaped pipelines — a small model scores every
document, and the pipeline keeps the high-scoring tail).

Reference parity: the reference repo has no ML surface (SURVEY.md §2) —
this is part of the north-star LLM-data-pipeline pack, built on the same
portable contract as the sketches (sha-52 hashing, tokenizer regex) so
every stage has an exact DuckDB twin.

Spark-first scale shape (100 TB posture):
- Featurization is one explode + groupBy((doc, feature)) — the hashing
  trick bounds the feature space to ``dim`` regardless of vocabulary, and
  the per-doc L1 normalization is exact integer division (deterministic
  across engines).
- Training is FULL-BATCH gradient descent with the weight vector as a
  DataFrame, never driver state: each iteration is two bounded shuffles
  (margins: features ⋈ broadcast(weights) → groupBy doc; gradient:
  features ⋈ errors → groupBy feature).  Weights have at most ``dim``
  rows, so the weight join always broadcasts; per-doc state never leaves
  the executors.  Iterations are O(1) count (2-5 in practice for a
  quality filter), each materialized to keep lineage flat.
- Scoring is the margin join again — embarrassingly parallel, one
  broadcast hash join + one partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from door2door_etl_spark.operators.sketches import _h52
from door2door_etl_spark.operators.text import tokens

FEATURE_SALT = "feat"


def hashed_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    salt: str = FEATURE_SALT,
    binary: bool = False,
    intercept: bool = False,
) -> DataFrame:
    """(id, feature, value): hashing-trick bag of words.

    ``feature = h52(token, salt) % dim`` (the portable sha-52 family —
    DuckDB twin ``sql_h52``).  ``value``: term frequency
    ``occurrences / n_tokens`` by default (exact integer ratio —
    bit-reproducible in any engine), or presence 1.0 with
    ``binary=True`` — the fastText-style set-of-words variant that is
    robust to document-length variance (a rare token's tf signal shrinks
    with doc length; its presence signal doesn't).

    ``intercept=True`` appends the reserved feature -1 with value 1.0 for
    EVERY document (including zero-token ones): without a bias term the
    shared-vocabulary features have to carry the class prior, which makes
    full-batch GD oscillate instead of placing the decision boundary.
    Zero-token documents otherwise emit no rows (score as sigmoid(0)
    downstream)."""
    from door2door_etl_spark.io.readers import widen_if_narrow

    # Width-normalized (tokenize branch only: the intercept branch is a
    # cheap id projection): the tokenize+hash explode is the
    # per-row-dense stage, and the single-file test scan would run it on
    # one core; callers persist the result once, so the guard fires at
    # most once per materialization.
    toked = widen_if_narrow(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        id_col,
        F.size("_toks").alias("_n"),
        F.explode("_toks").alias("_tok"),
    )
    grouped = toked.groupBy(
        id_col, (_h52(F.col("_tok"), salt) % dim).alias("feature")
    )
    if binary:
        out = grouped.agg(F.lit(1.0).alias("value"))
    else:
        out = grouped.agg(
            (
                F.count(F.lit(1)).cast("double")
                / F.any_value("_n").cast("double")
            ).alias("value")
        )
    if intercept:
        out = out.unionByName(
            docs.select(
                F.col(id_col),
                F.lit(-1).cast("long").alias("feature"),
                F.lit(1.0).alias("value"),
            )
        )
    return out


def _sigmoid(m: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))


def _margins(features: DataFrame, weights: DataFrame, id_col: str) -> DataFrame:
    """(id, m): sparse dot products — features ⋈ broadcast(weights) →
    partial-aggregated sum per doc.  Docs with no surviving features are
    ABSENT (callers coalesce to 0)."""
    return (
        features.join(F.broadcast(weights), "feature")
        .groupBy(id_col)
        .agg(F.sum(F.col("value") * F.col("w")).alias("m"))
    )


def train_logreg(
    features: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    iterations: int = 2,
    lr: float = 1.0,
    class_balanced: bool = False,
) -> DataFrame:
    """Full-batch gradient-descent logistic regression over sparse hashed
    features.  ``labels`` is (id, y double in {0, 1}).  Returns the weight
    DataFrame (feature, w) after ``iterations`` steps from w = 0:

        p_d    = sigmoid(sum_f w_f * x_df)      (0.5 exactly on step 1)
        grad_f = sum_d c_d * (p_d - y_d) * x_df
        w_f   -= lr * grad_f

    ``c_d`` is 1 (plain mean-free GD), or with ``class_balanced=True``
    the inverse-prevalence weight ``1 / (2 * n_{y_d})`` — the standard
    rare-class correction for quality filters (a 5%-positive class
    otherwise needs ~10x more steps before its features outvote the
    prior).  The per-class counts stay a one-row broadcast relation —
    nothing collects to the driver.

    The weight relation is materialized per step (at most ``dim`` rows) so
    plan depth stays flat in ``iterations``; only features observed in the
    corpus ever get a row (absent == 0)."""
    from pyspark import StorageLevel

    # Respect a caller-managed cache: if the features relation is already
    # persisted (e.g. the caller scores with it afterwards), reuse it and
    # leave its lifecycle to the caller instead of unpersisting their
    # cache out from under them.
    caller_cached = features.storageLevel.useMemory or features.storageLevel.useDisk
    feats = features if caller_cached else features.persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if class_balanced:
        counts = labels.agg(
            F.sum("y").alias("_npos"),
            F.sum(F.lit(1.0) - F.col("y")).alias("_nneg"),
        )
        lab = labels.crossJoin(F.broadcast(counts)).select(
            id_col,
            "y",
            (
                F.lit(1.0)
                / (
                    F.lit(2.0)
                    * F.when(F.col("y") == 1.0, F.col("_npos")).otherwise(
                        F.col("_nneg")
                    )
                )
            ).alias("c"),
        )
    else:
        lab = labels.select(id_col, "y", F.lit(1.0).alias("c"))
    lab = lab.localCheckpoint(eager=True)
    w: DataFrame | None = None
    for _ in range(iterations):
        if w is None:
            # w = 0 => every margin is 0 and p = 0.5 exactly; skipping the
            # join keeps step 1 free of a pointless zero-weight pass.
            p = lab.select(id_col, F.lit(0.5).alias("p"))
        else:
            m = _margins(feats, w, id_col)
            p = lab.join(m, id_col, "left").select(
                id_col, _sigmoid(F.coalesce("m", F.lit(0.0))).alias("p")
            )
        err = p.join(lab, id_col).select(
            id_col, ((F.col("p") - F.col("y")) * F.col("c")).alias("e")
        )
        grad = (
            feats.join(err, id_col)
            .groupBy("feature")
            .agg(F.sum(F.col("value") * F.col("e")).alias("g"))
        )
        if w is None:
            w = grad.select("feature", (F.lit(-lr) * F.col("g")).alias("w"))
        else:
            w = (
                w.join(grad, "feature", "full")
                .select(
                    "feature",
                    (
                        F.coalesce("w", F.lit(0.0))
                        - F.lit(lr) * F.coalesce("g", F.lit(0.0))
                    ).alias("w"),
                )
            )
        # Materialize: the weight relation is <= dim rows, and localCheckpoint
        # truncates the growing iteration lineage (same discipline as the
        # k-means trainer).
        w = w.localCheckpoint(eager=True)
    if not caller_cached:
        feats.unpersist()
    return w


def score_logreg(
    docs: DataFrame,
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score, pred): sigmoid margin per document over ALL docs —
    feature-less documents score sigmoid(0) = 0.5 (pred = kept), matching
    the training-side convention."""
    m = _margins(features, weights, id_col)
    return docs.select(id_col).join(m, id_col, "left").select(
        id_col,
        _sigmoid(F.coalesce("m", F.lit(0.0))).alias("score"),
        (F.coalesce("m", F.lit(0.0)) >= 0).alias("pred"),
    )


def quality_keep(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    binary: bool = True,
    intercept: bool = True,
    min_score: float = 0.5,
) -> DataFrame:
    """The rows of ``docs`` the trained classifier ``weights`` keeps: the
    serving side of the quality filter.  The featurization config
    (dim/binary/intercept) must match training.  At the default 0.5 the
    exact margin-sign ``pred`` of :func:`score_logreg` decides (sigmoid is
    monotone, so the boundary is float-robust); other thresholds compare
    the score directly."""
    feats = hashed_features(
        docs, text_col=text_col, id_col=id_col, dim=dim, binary=binary,
        intercept=intercept,
    )
    scored = score_logreg(docs, feats, weights, id_col=id_col)
    keep = (
        F.col("pred") if min_score == 0.5 else (F.col("score") >= F.lit(min_score))
    )
    return docs.join(scored.filter(keep).select(id_col), id_col, "left_semi")


def dense_weights(
    spark, weights: DataFrame, dim: int, intercept: bool = True
) -> DataFrame:
    """Densify a sparse weight relation to EXACTLY one row per possible
    feature (buckets 0..dim-1, plus the -1 intercept): absent features
    get weight 0.0 — the same "absent == 0" semantics the sparse margin
    join already implements.

    This is the publishing form for a model registry built on a keyed
    MERGE protocol (io.manifest.merge_manifest with key='feature'): a
    dense relation makes every committed model version a FULL
    replacement — a retrain that dropped a feature overwrites its row
    with 0.0 instead of leaving the stale weight live — while staying
    dim-bounded and broadcastable."""
    lo = -1 if intercept else 0
    all_feats = spark.range(lo, dim).select(
        F.col("id").alias("feature")
    )
    return all_feats.join(weights, "feature", "left").select(
        "feature", F.coalesce("w", F.lit(0.0)).alias("w")
    )
