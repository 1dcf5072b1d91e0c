"""Sequence packing for training-data pipelines: assign documents to
fixed-token-budget chunks in a stable global order.

The semantics are contiguous chunking: with ``c(i)`` the exclusive prefix
sum of token weights in ``order_col`` order, row *i* lands in chunk
``c(i) // budget``.  This is the deterministic, SQL-expressible core of
sequence packing (documents that straddle a boundary belong to the chunk
their first token falls in); an exact greedy bin-packer would need the same
row-at-a-time recurrence, which the per-partition scan below also supports.

Scale design — a global ORDER BY prefix sum is the textbook single-task
trap, so this runs the classic two-phase distributed scan instead:

1. ``repartitionByRange(order_col)`` + ``sortWithinPartitions`` (ONE range
   shuffle; boundaries from Spark's deterministic reservoir sketch),
2. partition *offsets* from a driver-side prefix over per-partition weight
   totals — ``num_partitions`` rows, the only driver materialization,
3. a partition-local running cumsum via ``mapInPandas`` (Arrow-batched,
   state carried across batches within the partition) — chosen over
   ``Window.partitionBy(partition_id)`` because Catalyst cannot know the
   range exchange already clusters rows by partition id and would insert a
   second full hash shuffle.

A window frame cannot express "cumsum seeded per partition", so this is a
legitimate mapInPandas drop-down; the frame it scans is the narrow
(key, weight) projection, not the documents.  The result is invariant to
where the range boundaries fall.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def contiguous_token_chunks(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    num_partitions: int | None = None,
    persist_input: bool = True,
) -> DataFrame:
    """Add ``chunk_id``: the token-budget chunk of each row under a global
    ``order_col`` ordering (unique keys required for determinism).

    The range-partitioned frame is ALWAYS cached — both the offsets pass
    (phase 2) and the output pass must consume one identical
    partitioning, and the plan-level cache entry is what guarantees it
    (see the correctness note below).  The cached frame is just
    (key, weight, …) — narrow by construction — so this holds even at
    corpus scale.  ``persist_input`` is retained for API stability and
    signals only the caller's cache-lifetime intent; the cache itself is
    not optional.  Caller owns the release
    (``spark.catalog.clearCache()``)."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(num_partitions, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    # The cache is CORRECTNESS, not an optimization: the offsets job
    # (phase 2) and the output job must read the SAME partitioning, but
    # each action re-plans the query and repartitionByRange re-SAMPLES
    # its boundaries per plan — two uncached executions can disagree,
    # applying phase-2 offsets to different partitions (measured at sf1
    # with a skewed 4-prefix curriculum key: interleaved position blocks,
    # output not even a permutation; sf0.01 masked it because the sample
    # saw the whole input).  The cache-manager entry is what both
    # consumers share at PLAN level, so an UNCACHED mode cannot exist;
    # ``persist_input=False`` now only records the caller's promise to
    # release promptly (spark.catalog.clearCache()) — it no longer skips
    # the persist.  (A localCheckpoint variant was tried and rejected:
    # its blocks are pinned by UI-retained query plans with no
    # deterministic release, where clearCache frees the persist path.)
    from pyspark.storagelevel import StorageLevel

    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    totals = (
        ranged.groupBy("_pid")
        .agg(F.sum(F.col(weight_col).cast("long")).alias("_tot"))
        .collect()
    )
    offsets, running = {}, 0
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[int(row["_pid"])] = running
        running += int(row["_tot"] or 0)
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("chunk_id", T.LongType())]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run = None  # running inclusive prefix sum, carried across batches
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = b_offsets.value[int(pdf["_pid"].iloc[0])]
            w = pdf[weight_col].to_numpy(dtype="int64")
            cum = w.cumsum() + run
            run = int(cum[-1])
            out = pdf.drop(columns=["_pid"]).copy()
            out["chunk_id"] = (cum - w) // budget
            yield out

    return ranged.mapInPandas(assign, schema=out_schema)


def sliding_token_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Per-document overlapping token windows (context-window chunking).

    One output row per window position: ``(id, chunk_idx, chunk_text,
    n_tokens)``.  Window starts advance by ``stride`` until the end of the
    document, so every token is covered and trailing windows truncate
    (an empty document yields one empty chunk, mirroring the short-doc
    collapse in :func:`text.shingles`).

    Scale shape: map-only — the windows are built with sequence/transform
    inside a single projection and exploded, so there is NO shuffle at any
    data size; chunking 100 TB is embarrassingly parallel.  The token array
    is bound once via the single-element-transform trick (Catalyst does not
    CSE through lambda bodies; re-evaluating the tokenizer per window would
    be O(tokens x windows) per document)."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    from door2door_etl_spark.operators.text import tokens

    def build(toks):
        k = F.size(toks)
        starts = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)), F.lit(stride))
        return F.transform(
            starts,
            lambda st, i: F.struct(
                i.cast("long").alias("chunk_idx"),
                F.concat_ws(" ", F.slice(toks, st + 1, window)).alias("chunk_text"),
                F.least(k - st, F.lit(window)).cast("long").alias("n_tokens"),
            ),
        )

    chunks = F.transform(F.array(tokens(F.col(text_col))), build)[0]
    return docs.select(id_col, F.explode(chunks).alias("c")).select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def epoch_shuffle(
    df: DataFrame,
    seed: int,
    id_col: str = "doc_id",
    out_col: str = "shuffle_pos",
    persist_input: bool = True,
) -> DataFrame:
    """Deterministic epoch shuffle: add ``out_col`` = the row's 1-based
    position in a seeded pseudorandom global order (the reproducible
    training-order shuffle every epoch of a data pipeline needs — same
    seed, same order, on any cluster size).

    The order key is ``sha256(seed | id)`` — engine-portable, collision-
    free on unique ids, and changing ``seed`` re-deals the whole order.
    A global ``row_number() OVER (ORDER BY …)`` would serialize into one
    task at scale, so this reuses :func:`contiguous_token_chunks`'s
    two-phase distributed scan with unit weights and a unit budget: the
    exclusive prefix count of rows IS the 0-based position.

    ``persist_input`` passes through to the two-phase scan (see
    :func:`contiguous_token_chunks`) — since the boundary-resample fix
    the scan ALWAYS persists its range-partitioned frame (correctness),
    so the flag records cache-lifetime intent only; release with
    ``spark.catalog.clearCache()``.
    """
    keyed = df.withColumn(
        "_shuffle_key",
        F.sha2(
            F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")), 256
        ),
    ).withColumn("_one", F.lit(1))
    out = contiguous_token_chunks(
        keyed, "_shuffle_key", "_one", budget=1, persist_input=persist_input
    )
    return (
        out.withColumn(out_col, (F.col("chunk_id") + 1))
        .drop("chunk_id", "_one", "_shuffle_key")
    )


def grouped_order_positions(
    df: DataFrame,
    group_col: str,
    order_col: str,
    num_partitions: int | None = None,
    out_col: str = "pos",
    max_driver_cells: int = 100_000,
) -> DataFrame:
    """Add ``out_col`` = the row's 1-based rank of ``order_col`` WITHIN its
    ``group_col`` group — ``row_number() OVER (PARTITION BY g ORDER BY o)``
    semantics without the window's one-task-per-group trap (a handful of
    length buckets over a 100 TB corpus would put billions of rows in one
    task; here every partition stays range-sized).

    Same two-phase shape as :func:`contiguous_token_chunks`, generalized to
    per-group offsets: range-partition by (group, order), count rows per
    (partition, group), prefix those counts per group on the driver
    (``partitions x groups`` tiny rows), then a partition-local running
    count that resets at group boundaries.  Requires unique ``order_col``
    values within a group for a deterministic rank.

    The driver state is ``partitions x groups`` rows — tiny for the
    designed use (length buckets, language tiers), but a HIGH-cardinality
    ``group_col`` (per-language-per-source keys at 100 TB) would put
    millions of rows on the driver.  When the cell count exceeds
    ``max_driver_cells``, the operator warns and switches to the
    hash-partitioned form: groups hash across shuffle partitions and the
    rank is a window WITHIN each group — the trap this operator avoids
    only bites at LOW group cardinality, so the two forms are
    complementary by construction (identical output either way, pinned by
    the 10k-group property test).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(num_partitions, F.col(group_col), F.col(order_col))
        .sortWithinPartitions(group_col, order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    from pyspark.storagelevel import StorageLevel

    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    # limit(cap + 1): ONE job both counts and fetches — if the extra row
    # came back the cap is blown (fall back); otherwise we already hold
    # every cell and pay no separate count.
    counts = (
        ranged.groupBy("_pid", group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .limit(max_driver_cells + 1)
        .collect()
    )
    if len(counts) > max_driver_cells:
        import warnings

        from pyspark.sql import Window

        warnings.warn(
            f"grouped_order_positions: over {max_driver_cells} distinct "
            f"(partition, {group_col}) cells — too many for driver-side "
            "prefix offsets; falling back to the hash-partitioned window "
            "form (fine at high group cardinality; raise max_driver_cells "
            "if this frame genuinely has few groups)",
            stacklevel=2,
        )
        ranged.unpersist()
        w = Window.partitionBy(group_col).orderBy(order_col)
        return df.withColumn(
            out_col, F.row_number().over(w).cast("long")
        )
    offsets: dict = {}
    running: dict = {}
    for row in sorted(counts, key=lambda r: (r[group_col], r["_pid"])):
        g = row[group_col]
        offsets[(int(row["_pid"]), g)] = running.get(g, 0)
        running[g] = running.get(g, 0) + int(row["_n"])
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = None
        cur_group = object()  # sentinel != any real value
        run = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            pos = []
            for g in pdf[group_col]:
                if g != cur_group:
                    cur_group = g
                    run = b_offsets.value.get((pid, g), 0)
                run += 1
                pos.append(run)
            out = pdf.drop(columns=["_pid"]).copy()
            out[out_col] = pd.Series(pos, index=pdf.index, dtype="int64")
            yield out

    return ranged.mapInPandas(assign, schema=out_schema)


def length_bucketed_batches(
    docs: DataFrame,
    batch_size: int,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence-length bucketed batching: assign every document to a
    power-of-two token-length bucket, shuffle deterministically within the
    bucket (seeded), and number fixed-size training batches —
    ``(id, n_tokens, bucket, batch_idx, pos_in_batch)``.

    This is the dynamic-batching prep step that keeps padding waste down
    (batch members share a length scale) while keeping batch composition
    reproducible across runs and cluster sizes.  The within-bucket rank
    comes from :func:`grouped_order_positions` — the two-phase scan, not a
    per-bucket window, because ~20 log2 buckets over a large corpus would
    serialize into ~20 tasks under ``Window.partitionBy``.
    """
    if batch_size <= 0:
        raise ValueError("batch_size must be positive")
    from door2door_etl_spark.operators.text import tokens

    base = docs.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    ).withColumn(
        "bucket",
        F.floor(F.log2(F.greatest(F.col("n_tokens"), F.lit(1)))).cast("long"),
    ).withColumn(
        "_key",
        F.sha2(
            F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")), 256
        ),
    )
    pos = grouped_order_positions(base, "bucket", "_key")
    return pos.select(
        id_col,
        "n_tokens",
        "bucket",
        ((F.col("pos") - 1) / batch_size).cast("long").alias("batch_idx"),
        ((F.col("pos") - 1) % batch_size).cast("long").alias("pos_in_batch"),
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    buckets: int = 4,
    out_col: str = "train_pos",
    persist_input: bool = True,
) -> DataFrame:
    """Curriculum training order: quantile-bucket the difficulty score
    (easy first), deterministically shuffle WITHIN each bucket, and
    assign 1-based global positions — the curriculum-learning schedule
    (Bengio et al., ICML'09) as a reproducible data-pipeline transform.

    Mechanics: exact interpolated percentiles cut ``score_col`` into
    ``buckets`` difficulty tiers (one tiny aggregate, thresholds folded
    back as literals); the order key is the tier index concatenated with
    the seeded portable shuffle hash, pushed through the SAME two-phase
    distributed prefix scan as :func:`epoch_shuffle` — no global
    ``row_number`` window, no one-task sort.  Same seed, same schedule,
    on any cluster size; changing ``seed`` re-deals within tiers while
    the easy→hard progression stands.

    Adds ``difficulty_bucket`` (0-based tier, 0 = easiest) and
    ``out_col``.  Ties at a threshold land in the LOWER tier (``>``
    comparisons), matching the SQL oracle's rendering.  NULL scores are
    rejected loudly (a NULL has no defined tier and would silently
    diverge from the SQL twin — same posture as the NULL-anchor check
    in negative sampling); an empty frame returns empty; ``buckets=1``
    degenerates to a pure epoch shuffle (everything tier 0).
    """
    if df.filter(F.col(score_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"curriculum_order: NULL values in score column {score_col!r}; "
            "a NULL difficulty has no tier — filter or impute first"
        )
    qs = [i / buckets for i in range(1, buckets)]
    if qs:
        cuts_row = df.agg(
            *[
                F.percentile(F.col(score_col), F.lit(q)).alias(f"q{i}")
                for i, q in enumerate(qs)
            ]
        ).collect()[0]
    bucket = None
    for i in range(len(qs)):
        cut = cuts_row[f"q{i}"]
        if cut is None:  # empty input: no thresholds, all rows tier 0
            continue
        t = (F.col(score_col) > F.lit(float(cut))).cast("int")
        bucket = t if bucket is None else bucket + t
    if bucket is None:
        bucket = F.lit(0)
    keyed = df.withColumn("difficulty_bucket", bucket).withColumn(
        "_curr_key",
        F.concat_ws(
            "|",
            F.lpad(F.col("difficulty_bucket").cast("string"), 4, "0"),
            F.sha2(
                F.concat_ws(
                    "|", F.lit(str(seed)), F.col(id_col).cast("string")
                ),
                256,
            ),
        ),
    ).withColumn("_one", F.lit(1))
    out = contiguous_token_chunks(
        keyed, "_curr_key", "_one", budget=1, persist_input=persist_input
    )
    return (
        out.withColumn(out_col, F.col("chunk_id") + 1)
        .drop("chunk_id", "_one", "_curr_key")
    )
