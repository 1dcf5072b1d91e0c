"""Iterative clustering: Lloyd's k-means over an embedding column.

This is the trainer for the IVF coarse quantizer (operators/similarity.py
uses a cell id to block ANN search; these centroids are how a deployment
derives that cell id from raw vectors in-engine).

Spark-first shape, same as MLlib's implementation strategy:
- **Assignment** never joins: the k centroids are driver-side literal
  arrays folded into one loop-shaped expression per row (``zip_with`` +
  ``aggregate`` per centroid — constant generated-code size in dim, so no
  janino method-size fallback at any k·dim), and each iteration's
  assignment is a map-only pass over the vectors — no shuffle, no Python.
- **Update** is one groupBy per iteration (k·dim partial sums map-side
  combined), collecting k tiny rows to the driver for the next round's
  literals.

Cross-engine determinism (the DuckDB oracle unrolls the same iterations):
- distances sum squared diffs in ascending-dimension order (left fold —
  both engines);
- means avoid float accumulation-order drift by summing
  ``floor(v_d · 1e6)`` as exact BIGINTs, then one double division — the
  same quantize-then-exact-sum trick the money aggregates use;
- argmin ties break to the lowest centroid id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from door2door_etl_spark.operators import local

SCALE = 1_000_000.0


def _dist2_sql(vec_col: str, centroid: list[float]) -> str:
    """Squared L2 distance to a literal centroid, ascending-dim left fold —
    loop-shaped (``zip_with`` + ``aggregate`` over a literal array) rather
    than ``dim`` unrolled squared-diff terms: the unrolled form generated
    ~150 Java lines per centroid and blew janino's 64 KB method limit at
    k·dim = 256 (an ERROR-level codegen fallback in an otherwise green
    run), while the loop form stays constant-size regardless of dim.  The
    fold order is identical (aggregate is a left fold, zero start is exact
    for non-negative terms), so the DuckDB oracle hash is unchanged.
    ``repr(x)D`` literals round-trip doubles exactly; non-finite
    components have no SQL literal form, so they are rejected loudly
    (use the BLAS path, which propagates them numerically)."""
    import math

    if not all(math.isfinite(x) for x in centroid):
        raise ValueError(
            "non-finite centroid component on the expression path; "
            "use use_blas=True for data whose means can be inf/nan"
        )
    lits = ",".join(f"{x!r}D" for x in centroid)
    return (
        f"aggregate(zip_with(`{vec_col}`, array({lits}), "
        "(a, b) -> pow(CAST(a AS DOUBLE) - b, 2)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _assign(df: DataFrame, vec_col: str, centroids: list[list[float]], dim: int) -> DataFrame:
    dists = F.expr(
        "array(" + ",".join(_dist2_sql(vec_col, c) for c in centroids) + ")"
    )
    # array_position returns the FIRST index with the min → ties break to
    # the lowest centroid id (mirrored by row_number ORDER BY dist, cid).
    return df.withColumn("cluster", F.array_position(dists, F.array_min(dists)).cast("int"))


def _assign_blas(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Scale-path assignment: Arrow-batched numpy, one GEMM per batch.

    argmin over ``-2·V·Cᵀ + |c|²`` (the per-row |v|² constant cannot move
    the argmin); np.argmin takes the first minimum, matching the exact
    path's tie-break.  BLAS accumulation order differs from the exact
    path's left fold, so rows within ~1 ulp of a tie may land differently —
    use the exact path when cross-engine bit-parity matters, this one when
    k·dim makes the literal expression tree unreasonable (the expression
    path's plan-compile cost grows with k·dim; this path's is constant)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("cluster", T.IntegerType())]
    )

    def go(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            scores = -2.0 * (v @ C.T) + c2
            out = pdf.copy()
            out["cluster"] = (np.argmin(scores, axis=1) + 1).astype("int32")
            yield out

    return df.mapInPandas(go, schema)


def kmeans_fit_predict(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    dim: int = 64,
    iterations: int = 2,
    use_blas: bool = True,
) -> tuple[DataFrame, list[list[float]]]:
    """Run ``iterations`` Lloyd rounds from a deterministic init (the vectors
    with the ``k`` smallest ids, in id order) and return
    ``(df + cluster column, final centroids)``.  Clusters are 1-based.

    ``use_blas`` (default ``True``) runs assignment on the Arrow/GEMM path
    (see ``_assign_blas``) — same algorithm, constant plan-compile cost,
    the production choice for any real k·dim (one GEMM per Arrow batch vs
    k loop-expressions per row).  ``use_blas=False`` keeps the pure
    expression path as the oracle-parity twin — loop-shaped since round 6,
    so it no longer trips janino's method-size limit at any k·dim; its
    remaining cost is the k·dim literal in the plan, data not code.

    Raises if any cluster empties mid-run (the oracle unrolls the same
    recurrence and has no empty-cluster rule; with a deterministic init on
    real corpora this does not occur — pick a larger sample if it does).
    """

    def assign(frame: DataFrame, cents: list[list[float]]) -> DataFrame:
        if use_blas:
            return _assign_blas(frame, vec_col, cents)
        return _assign(frame, vec_col, cents, dim)

    init_rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]

    for _ in range(iterations):
        assigned = assign(df, centroids)
        # Moment sums via posexplode instead of `dim` separate aggregate
        # columns: the values are IDENTICAL (same floor(x*SCALE) longs,
        # long addition is order-free) and the shuffle volume is the same
        # (both shapes partial-aggregate map-side to k x dim cells per
        # partition), but the PLAN is constant-size.  The old shape built
        # a fresh 1+dim-expression aggregate DAG every iteration, costing
        # ~1.4 s of driver-side Catalyst analysis + codegen per Lloyd
        # round at dim=64 (measured; execution itself was 0.1 s) — pure
        # constant overhead that dominated the benchmark at small SF.
        cells = (
            assigned.select("cluster", F.posexplode(vec_col).alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("x").cast("double") * F.lit(SCALE)).cast(
                        "long"
                    )
                ).alias("s"),
            )
        )
        got = {(r["cluster"], r["d"]): r for r in cells.collect()}
        clusters = sorted({cid for cid, _ in got})
        if len(clusters) < k:
            raise ValueError(f"empty cluster among 1..{k}: got {clusters}")
        centroids = [
            [
                (float(got[(cid, d)]["s"]) / got[(cid, d)]["n"]) / SCALE
                for d in range(dim)
            ]
            for cid in range(1, k + 1)
        ]

    return assign(df, centroids), centroids


def power_iteration_top_pc(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    iterations: int = 3,
) -> tuple[list[float], float, list[float]]:
    """Top principal component of an embedding column by POWER ITERATION
    on the centered scatter matrix, never materializing the d×d
    covariance: each iteration is two corpus passes fused into one job —
    per row the scalar projection ``s_i = (x_i − μ)·v``, then the
    d-dimensional accumulation ``u = Σ_i s_i (x_i − μ)`` as one
    ``posexplode → groupBy(dim)`` aggregate (map-side partial sums; the
    shuffle is d rows).  Returns ``(component, lambda_est, mean)`` with
    ``lambda_est`` the scatter-matrix Rayleigh estimate (the final
    un-normalized ``‖u‖``).

    Embedding analytics this unlocks at 100 TB: dominant-direction
    drift between corpus snapshots, anisotropy screening ("all my
    vectors point one way" — the common post-training pathology), and
    mean-centering + top-PC removal (the classic all-but-the-top
    embedding post-process, Mu & Viswanath 2018).

    Cross-engine determinism (the module's standing discipline, so a
    DuckDB twin unrolled to the same iteration count hash-matches):

    - the mean and every per-dimension accumulation sum
      ``floor(term · 1e6)`` as exact BIGINTs (accumulation ORDER can
      never move a bit);
    - per-row dot products are ascending-dimension left folds
      (``aggregate`` over ``zip_with`` ↔ ``list_sum(list_transform)``);
    - the start vector is the constant ``1/sqrt(dim)`` literal;
    - the returned component's SIGN is canonicalized so its first
      nonzero (quantized) coordinate is positive — the eigenvector sign
      ambiguity never reaches the caller.

    Driver state is two ``dim``-length float lists per iteration (the
    same bounded-metadata posture as :func:`kmeans_fit_predict`'s
    centroid literals); above the gate only the gate's bounded collect
    (at most ``MAX_POWER_ITERATION_ROWS + 1`` rows) reaches the driver.

    Small-corpus completion (the graph family's gate discipline): when
    the corpus has at most ``local.MAX_POWER_ITERATION_ROWS`` rows
    (:mod:`~door2door_etl_spark.operators.local`; one bounded collect
    decides; 64 k × dim 64 ≈ a 33 MB collect), the whole schedule runs
    as driver arithmetic mirroring the distributed path operation for
    operation — the identical ``floor(term·1e6)`` BIGINT sums (exact,
    order-free), ascending-dimension float folds, and division shapes —
    so the returned ``(component, lambda, mean)`` triple is
    BIT-IDENTICAL (property-tested), skipping 1 + iterations full-plan
    jobs of mostly per-job constant cost.  Above the gate the
    distributed path is unchanged.

    Reference analog: none (the reference stops at warehouse ETL,
    /root/reference/README.md:18-41); north-star embedding-analytics
    capability.
    """
    import math

    e = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    rows = local.rows_if_small(e.select("_v"), local.MAX_POWER_ITERATION_ROWS)
    if rows is not None:
        vecs = [list(r["_v"]) for r in rows]
        return _power_iteration_local(vecs, dim, int(iterations))
    pos = e.select(F.posexplode("_v").alias("_d", "_x"))
    mean_rows = (
        pos.groupBy("_d")
        .agg(
            (
                F.sum(F.floor(F.col("_x") * F.lit(SCALE)).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                / F.lit(SCALE)
            ).alias("_m")
        )
        .collect()
    )
    mean = [0.0] * dim
    for r in mean_rows:
        mean[r["_d"]] = r["_m"]

    v = [1.0 / math.sqrt(dim)] * dim
    lam = 0.0
    uq_last: list[int] = []
    for _ in range(int(iterations)):
        m_lit = F.array(*[F.lit(float(m)) for m in mean])
        v_lit = F.array(*[F.lit(float(x)) for x in v])
        cx = F.zip_with(F.col("_v"), m_lit, lambda a, b: a - b)
        s = F.aggregate(
            F.zip_with(cx, v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        u_rows = (
            e.select(s.alias("_s"), F.posexplode(cx).alias("_d", "_x"))
            .groupBy("_d")
            .agg(
                F.sum(
                    F.floor(F.col("_s") * F.col("_x") * F.lit(SCALE)).cast(
                        "long"
                    )
                ).alias("_uq")
            )
            .collect()
        )
        uq = [0] * dim
        for r in u_rows:
            uq[r["_d"]] = r["_uq"]
        u = [q / SCALE for q in uq]
        nrm = 0.0
        for x in u:  # ascending-dim left fold, mirrors list_sum
            nrm = nrm + x * x
        nrm = math.sqrt(nrm)
        if nrm == 0.0:
            return [0.0] * dim, 0.0, mean  # degenerate: constant corpus
        v = [x / nrm for x in u]
        lam = nrm
        uq_last = uq
    first_nz = next((q for q in uq_last if q != 0), 0)
    if first_nz < 0:
        v = [-x for x in v]
    return v, lam, mean


def _power_iteration_local(
    vecs: list, dim: int, iterations: int
) -> tuple[list[float], float, list[float]]:
    """Driver twin of :func:`power_iteration_top_pc`'s distributed
    schedule — the small-corpus completion path.  Operation-for-operation
    mirror: ``floor(x·1e6)`` BIGINT mean sums with the same
    ``(sum/count)/SCALE`` division chain, per-row ascending-dimension
    left-fold projections in IEEE doubles, exact integer accumulation
    sums ``floor((s·cx)·1e6)``, ascending-dim norm fold, identical
    degenerate-corpus early return and sign canonicalization.
    Property-tested bit-identical (test_power_iteration_local_matches)."""
    import math

    mean = [0.0] * dim
    cnt = len(vecs)
    if cnt:
        for d in range(dim):
            total = 0
            for x in vecs:
                total += math.floor(x[d] * SCALE)
            mean[d] = (float(total) / cnt) / SCALE

    v = [1.0 / math.sqrt(dim)] * dim
    lam = 0.0
    uq_last: list[int] = []
    cx_rows = [[x[d] - mean[d] for d in range(dim)] for x in vecs]
    for _ in range(iterations):
        uq = [0] * dim
        for cx in cx_rows:
            s = 0.0
            for d in range(dim):  # ascending-dim left fold
                s = s + cx[d] * v[d]
            for d in range(dim):
                uq[d] += math.floor(s * cx[d] * SCALE)
        u = [q / SCALE for q in uq]
        nrm = 0.0
        for x in u:  # ascending-dim left fold, mirrors list_sum
            nrm = nrm + x * x
        nrm = math.sqrt(nrm)
        if nrm == 0.0:
            return [0.0] * dim, 0.0, mean  # degenerate: constant corpus
        v = [x / nrm for x in u]
        lam = nrm
        uq_last = uq
    first_nz = next((q for q in uq_last if q != 0), 0)
    if first_nz < 0:
        v = [-x for x in v]
    return v, lam, mean


def remove_top_pc(
    df: DataFrame,
    component: list[float],
    mean: list[float],
    vec_col: str = "embedding",
    out_col: str = "resid",
) -> DataFrame:
    """All-but-the-top embedding post-processing (Mu & Viswanath,
    ICLR 2018): subtract the corpus mean, then project out the top
    principal component — ``x' = (x − μ) − ((x − μ)·v)v`` — the
    standard fix for the anisotropy pathology where every vector
    shares one dominant direction and cosine similarity saturates.

    Pure map-side column arithmetic over driver-literal ``component`` /
    ``mean`` arrays (:func:`power_iteration_top_pc`'s outputs — the
    same bounded-literal posture as the k-means centroids): one scan,
    no shuffle, no Python rows at any corpus width.  Folds ascend the
    dimension (the module's engine-parity discipline).  The centered
    vector and the projection scalar are BOUND as intermediate columns
    before the residual ``zip_with`` — referencing the fold expression
    inside the per-element lambda would re-evaluate it per element
    (Catalyst does not CSE through lambda bodies; the shingles lesson),
    turning O(dim) into O(dim²) per row."""
    m_lit = F.array(*[F.lit(float(m)) for m in mean])
    v_lit = F.array(*[F.lit(float(x)) for x in component])
    cx = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        m_lit,
        lambda a, b: a - b,
    )
    tmp = df.withColumn("_abtt_cx", cx).withColumn(
        "_abtt_s",
        F.aggregate(
            F.zip_with(F.col("_abtt_cx"), v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ),
    )
    resid = F.zip_with(
        F.col("_abtt_cx"), v_lit, lambda c, vv: c - F.col("_abtt_s") * vv
    )
    return tmp.withColumn(out_col, resid).drop("_abtt_cx", "_abtt_s")
