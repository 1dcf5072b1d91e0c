"""Structured Streaming variant of the ingest pipeline (SURVEY.md §2.8).

The reference hand-rolls streaming concepts on a scheduler: hourly tumbling
batches (s3.py:55), a watermark table (postgres.py:88-106), in-batch dedup +
cross-batch idempotent upsert (helper.py:144-148, postgres.py:173-181).
Structured Streaming provides each natively:

| reference concept            | streaming-native form                       |
|------------------------------|---------------------------------------------|
| watermark table + (+1h)      | file-source checkpoint (exactly-once list)  |
| hourly batch window          | ``F.window(at, '1 hour')`` tumbling window  |
| in-batch dedup by derived id | ``dropDuplicatesWithinWatermark``           |
| cross-batch upsert           | ``foreachBatch`` → MERGE (idempotent)       |
| late/malformed handling      | ``withWatermark`` + PERMISSIVE corrupt drop |

Tests drive these with ``trigger(availableNow=True)`` — the batch-bounded
streaming mode — so the same code path serves both continuous clusters and
catch-up/backfill runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.manifest import ManifestTable, merge_manifest
from door2door_etl_spark.operators import local
from door2door_etl_spark.pipeline.aggview import _group_key_expr
from door2door_etl_spark.schemas.normalize import normalize
from door2door_etl_spark.schemas.registry import EntitySchema
from door2door_etl_spark.session import ensure_runtime_confs


def _run_foreach_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    fn,
    query_name: str | None = None,
    available_now: bool = True,
):
    """Start ``stream`` with ``fn(batch_df, batch_id)`` as its
    ``foreachBatch`` sink and progress kept in ``checkpoint_dir``.  With
    ``available_now`` the query processes what is available and stops;
    without it, it keeps running until stopped.  Returns the
    ``StreamingQuery``."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events(
    spark: SparkSession,
    source_dir: str | None = None,
    watermark_delay: str | None = "2 hours",
    source: "StreamSourceFactory | None" = None,
) -> DataFrame:
    """Streaming event source with provenance + malformed-line policy —
    the streaming twin of io.readers.read_jsonl_events (S1/P2), plus an
    event-time watermark for late data.

    ``watermark_delay=None`` skips the watermark — for callers that project
    the stream (e.g. through schemas.normalize, which drops ``event_ts``)
    and must define their own watermark on a downstream event-time column:
    Spark disallows redefining an existing watermark.

    The physical source is injectable (``source``, any
    ``streaming.sources.StreamSourceFactory`` honoring the event-source
    contract); the default is the PERMISSIVE JSONL file source over
    ``source_dir``.  Everything downstream — corrupt-line policy,
    event-time derivation, watermarking — is source-agnostic, so a
    Kafka/Kinesis/rate adapter drops in without touching this function.
    """
    from door2door_etl_spark.streaming.sources import jsonl_events_source

    if (source is None) == (source_dir is None):
        raise ValueError("pass exactly one of source_dir or source")
    ensure_runtime_confs(spark)
    raw = (source or jsonl_events_source(source_dir))(spark)
    out = (
        raw.filter(F.col("_corrupt_record").isNull())
        .drop("_corrupt_record")
        .withColumn("event_ts", F.expr("try_cast(at AS timestamp)"))
        .filter(F.col("event_ts").isNotNull())
    )
    if watermark_delay is not None:
        out = out.withWatermark("event_ts", watermark_delay)
    return out


def stream_hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed aggregation (the reference's ingest
    granularity as a true streaming window)."""
    return events.groupBy(
        F.window(F.col("event_ts"), "1 hour").alias("w"), F.col("on")
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("w.start").alias("hour_start"), "on", "n_events"
    )


def stream_dedup_by_key(
    events: DataFrame,
    key_source_cols: list[str] | None = None,
    entity_schema: EntitySchema | None = None,
) -> DataFrame:
    """Streaming duplicate collapse: derive a deterministic sha2 dedup key
    and drop repeats with ``dropDuplicatesWithinWatermark`` — dedup state is
    evicted once the watermark passes, so state size is bounded by the
    duplicate horizon, not by stream history (the 100 TB property the batch
    ``dropDuplicates`` cannot give a continuous pipeline).

    Key derivation has two modes:

    - ``entity_schema`` given (an :class:`EntitySchema`, for a stream that
      has already been normalized): the key is built from the normalized
      key columns in YAML declaration order with their declared types —
      byte-identical to the batch normalizer's ``event_generated_id``
      (reference src/helper/helper.py:144-148), so cross-layer comparisons
      on that column are valid.  The column is named ``event_generated_id``.
    - otherwise (raw pre-normalization events): the key hashes
      ``key_source_cols`` stringified raw — sufficient for within-stream
      dedup but NOT equal to the batch surrogate key (raw column order and
      timestamp rendering differ), so it is named ``_stream_dedup_key`` to
      make that unmistakable.
    """
    from door2door_etl_spark.schemas.keys import surrogate_uuid_expr

    if entity_schema is not None:
        specs = entity_schema.key_columns
        key_col = "event_generated_id"
        key = surrogate_uuid_expr(
            [F.col(s.target_name) for s in specs],
            [s.spark_type for s in specs],
        )
    else:
        cols = key_source_cols or ["on", "at", "organization_id", "data.id"]
        key_col = "_stream_dedup_key"
        key = surrogate_uuid_expr([F.col(c).cast("string") for c in cols])
    keyed = events.withColumn(key_col, key)
    return keyed.dropDuplicatesWithinWatermark([key_col])


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "event_ts",
    right_ts: str = "event_ts",
    within: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with a time-bound: match rows sharing
    ``key_col`` whose event times are within ``within`` of each other.

    The time-range conjunct is what makes an unbounded stream⋈stream join
    feasible: combined with each side's ``withWatermark`` it gives Spark a
    provable bound on how long either side's rows must be retained, so join
    state is evicted continuously instead of growing with the stream — the
    batch interval_join's streaming twin (SURVEY.md §2.4)."""
    l = left.select(
        F.col(key_col).alias("l_key"), F.col(left_ts).alias("l_ts"), "*"
    ).drop(key_col, left_ts)
    r = right.select(
        F.col(key_col).alias("r_key"), F.col(right_ts).alias("r_ts"), "*"
    ).drop(key_col, right_ts)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner")


def stream_sessionize(
    events: DataFrame,
    key_col: str = "organization_id",
    ts_col: str = "event_ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based session aggregation via
    ``applyInPandasWithState`` — the arbitrary-state surface the built-in
    windows can't express (session extent depends on the data, not the
    clock).  Batch twin: operators.relational.sessionize.

    State per key = (session_start, last_seen, n_events).  A micro-batch
    extends the open session or closes it and opens a new one; sessions
    closed within the batch are emitted immediately, the open session is
    emitted when its key times out (event-time timeout = watermark-driven,
    so state size is bounded by the number of keys active inside the
    watermark horizon — the 100 TB property)."""
    import pandas as pd  # local import keeps module import light
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} string, session_start timestamp, session_end timestamp, "
        "n_events long, closed boolean"
    )
    state_schema = "session_start long, last_seen long, n_events long"
    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state: GroupState):
        rows = []
        if state.hasTimedOut:
            start, last, n = state.get
            rows.append((key[0], start, last, n, True))
            state.remove()
        else:
            ts_us = []
            for pdf in pdfs:
                ts_us.extend(
                    int(v.value // 1000)  # pandas ns -> µs
                    for v in pd.to_datetime(pdf[ts_col])
                )
            ts_us.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = ts_us[0], ts_us[0], 0
            for t in ts_us:
                if n > 0 and t - last > gap_us:
                    rows.append((key[0], start, last, n, True))
                    start, n = t, 0
                last = t
                n += 1
            state.update((start, last, n))
            state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)
            rows.append((key[0], start, last, n, False))
        out = pd.DataFrame(
            rows, columns=[key_col, "session_start", "session_end", "n_events", "closed"]
        )
        for c in ("session_start", "session_end"):
            out[c] = pd.to_datetime(out[c], unit="us")
        yield out

    return (
        events.select(key_col, ts_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_upsert_to_warehouse(
    spark: SparkSession,
    events: DataFrame,
    schema: EntitySchema,
    warehouse_root: str,
    checkpoint_dir: str,
    sink=None,
):
    """foreachBatch MERGE: normalize each micro-batch with the same compiled
    schema plan the batch handler uses, then idempotently upsert.  Restarted
    or replayed micro-batches converge to the same table state (deterministic
    key + MERGE — the streaming exactly-once pattern without a txn sink).

    ``sink`` is any :class:`door2door_etl_spark.io.writers.MergeSink`;
    default is the lake's manifest MERGE
    (:func:`~door2door_etl_spark.io.manifest.merge_manifest`, local or
    object store).  Pass a ``JdbcMergeSink`` to land in a transactional
    warehouse — the micro-batch loop is identical."""
    table = schema.target_table or schema.entity
    target = f"{warehouse_root}/{table}"
    filtered = events.filter(F.col("on") == schema.entity)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        silver = normalize(batch_df, schema)
        if silver.isEmpty():
            return
        if sink is not None:
            sink.merge(silver, key="event_generated_id")
        else:
            merge_manifest(spark, target, silver, key="event_generated_id")

    return _run_foreach_batch(filtered, checkpoint_dir, upsert_batch)


def stream_decontaminate(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
):
    """Streaming corpus hygiene: continuously drop incoming documents that
    share any word n-gram with a *static* benchmark/eval set — the
    continuous-ingest twin of operators.dedup.ngram_decontaminate.

    Doc-level "none of my shingles hit" cannot be a single stream-static
    join (the contaminated-id set derives from the stream, and a
    stream-stream anti join needs watermark bounds it doesn't have), so
    this uses ``foreachBatch``: each micro-batch is a static frame and the
    batch operator runs verbatim — benchmark shingles broadcast, map-side
    semi + anti.  foreachBatch delivery is at-least-once (a batch can
    replay after a partial failure), so each batch OVERWRITES its own
    ``batch_id=N`` subdirectory — the replay rewrites the same files
    instead of appending duplicates (effectively-once).  No streaming
    state store; throughput is the batch operator's.
    """
    from door2door_etl_spark.operators.dedup import ngram_decontaminate

    def filter_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = ngram_decontaminate(
            batch_df, benchmark, text_col=text_col, id_col=id_col, shingle_n=shingle_n
        )
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _run_foreach_batch(docs_stream, checkpoint_dir, filter_batch)


def stream_incremental_lsh_dedup(
    docs_stream: DataFrame,
    index,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous-ingest admission filter: the streaming twin of
    operators.dedup.incremental_lsh_dedup.  ``index`` is the STATIC
    persisted band index of the already-admitted corpus (a
    :class:`~door2door_etl_spark.operators.dedup.ManifestLshBandIndex`,
    which carries the text/id columns and MinHash parameters); each
    micro-batch runs the index's own admission rule
    (``index.admit(update_index=False)``) and appends only the survivors.
    The index is never updated here — for a self-updating index see
    :func:`stream_manifest_lsh_admission`.

    foreachBatch rather than a stream-static join for the same reason as
    stream_decontaminate: the admitted-id set is an aggregate over the
    batch's own band rows (doc-level "no band collided"), which a single
    stream-static join cannot express.  foreachBatch delivery is
    at-least-once — a batch can replay after a partial failure — so each
    batch OVERWRITES its own ``batch_id=N`` subdirectory: the replay
    rewrites the same files instead of appending duplicates, which is what
    upgrades the sink to effectively-once.  No streaming state store is
    involved; the only per-batch cost is the probe join itself.
    """

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = index.admit(batch_df, update_index=False)
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _run_foreach_batch(docs_stream, checkpoint_dir, admit_batch)


def stream_hll_maintenance(
    spark: SparkSession,
    stream_df: DataFrame,
    group_cols: list[str],
    col: str,
    table_root: str,
    checkpoint_dir: str,
    p: int = 6,
    salt: str = "hll",
):
    """Incrementally maintained HyperLogLog register table over a stream:
    each micro-batch's registers are MAX-merged into a persistent sketch
    table, so "distinct users per event type, ever" stays queryable in
    O(groups x 2^p) rows without re-scanning history — the streaming form
    of ``operators.sketches.hll_register_table``.

    Why HLL (and Bloom), not CMS, is the streaming-native sketch here:
    foreachBatch delivery is at-least-once, and MAX/union merges are
    IDEMPOTENT — replaying a batch re-merges the same registers to the
    same values, so no batch-id ledger is needed.  A SUM-merged sketch
    (CMS) would double-count on replay and needs the MERGE-key ledger the
    warehouse sink uses.

    State is committed through the manifest MERGE keyed on
    (group…, bucket) — snapshot isolation means a reader never sees a
    half-merged sketch, and the commit itself tolerates a concurrent
    batch writer.  Scale: the shuffled state per batch is register
    partials (<= groups x 2^p rows), never event rows.
    """
    from pyspark.errors import AnalysisException

    from door2door_etl_spark.operators.sketches import (
        hll_merge,
        hll_register_table,
    )

    def read_state() -> DataFrame | None:
        try:
            cur = spark.read.parquet(table_root)
        except AnalysisException:
            return None  # before the first commit
        return cur.select(*group_cols, "bucket", "register")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_regs = hll_register_table(batch_df, group_cols, col, p=p, salt=salt)
        current = read_state()
        combined = (
            hll_merge(current.unionByName(batch_regs), group_cols)
            if current is not None
            else batch_regs
        )
        keyed = combined.withColumn(
            "sketch_key", _group_key_expr([*group_cols, "bucket"])
        )
        merge_manifest(spark, table_root, keyed, key="sketch_key")

    return _run_foreach_batch(stream_df, checkpoint_dir, merge_batch)


def stream_cms_maintenance(
    spark: SparkSession,
    stream_df: DataFrame,
    item_col: str,
    table_root: str,
    checkpoint_dir: str,
    depth: int = 3,
    width: int = 64,
    salt: str = "cms",
):
    """Incrementally maintained Count-Min sketch over a stream — the
    NON-idempotent-merge case :func:`stream_hll_maintenance` calls out,
    solved with a batch ledger: state rows are keyed by
    ``(batch_id, row, col)``, so an at-least-once replay of batch N
    OVERWRITES batch N's own cells (MERGE upsert — idempotent) instead of
    double-counting into a global cell.  Structured Streaming's
    checkpoint guarantees batch ids are stable across restarts, which is
    exactly what makes the ledger sound.

    Read-side estimates SUM across batch rows (CMS merge is SUM —
    :func:`read_cms_state` returns the collapsed global sketch).  State
    is O(batches x depth x width) rows; periodic compaction folds old
    batches together if the stream runs for years (sum rows into a
    single negative batch_id via one MERGE).
    """
    from door2door_etl_spark.operators.sketches import cms_sketch_table

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells = cms_sketch_table(
            batch_df, [], item_col, depth=depth, width=width, salt=salt
        ).withColumn("batch_id", F.lit(batch_id))
        keyed = cells.withColumn(
            "cell_key", _group_key_expr(["batch_id", "row", "col"])
        )
        merge_manifest(spark, table_root, keyed, key="cell_key")

    return _run_foreach_batch(stream_df, checkpoint_dir, merge_batch)


def read_cms_state(spark: SparkSession, table_root: str) -> DataFrame:
    """Collapse a maintained CMS ledger to the global sketch
    ``(row, col, cnt)`` — SUM across batch rows (the lossless CMS
    merge); feed to ``operators.sketches.cms_point_estimate``."""
    return (
        spark.read.parquet(table_root)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_heavy_hitters(
    events: DataFrame,
    key_col: str,
    item_col: str,
    capacity: int = 64,
    k: int = 10,
):
    """Stateful streaming heavy hitters: a per-key Space-Saving summary
    (Metwally et al., ICDT'05) maintained with ``applyInPandasWithState``,
    emitting each key's current top-``k`` leaderboard every micro-batch.

    State per key is BOUNDED at ``capacity`` (item, count) pairs no matter
    how many distinct items stream past — the property a naive
    groupBy-count stream cannot give (its state grows with the item
    universe).  Space-Saving guarantees: estimated counts never
    undercount, and any item with true frequency > N/capacity is present
    in the summary.  Batch items fold in by value_counts (vectorized),
    iterated in (count desc, item) order so admission/eviction is
    deterministic for a given batch sequence.

    Second custom arbitrary-state operator beside
    :func:`stream_sessionize` — leaderboards depend on all history, not a
    clock, so neither windows nor watermark aggregations express them.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # Derive key/item types from the input schema — hardcoding 'string'
    # would crash Arrow conversion inside the executor for e.g. int keys.
    types = {f.name: f.dataType.simpleString() for f in events.schema.fields}
    key_t, item_t = types[key_col], types[item_col]
    out_schema = (
        f"{key_col} {key_t}, item {item_t}, est_count long, rank int"
    )
    state_schema = f"items array<{item_t}>, counts array<long>"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            items, counts = state.get
            tbl = dict(zip(items, counts))
        else:
            tbl = {}
        batch = pd.concat(list(pdfs), ignore_index=True)
        vc = batch[item_col].value_counts()
        for item, cnt in sorted(vc.items(), key=lambda x: (-x[1], x[0])):
            if item in tbl:
                tbl[item] += int(cnt)
            elif len(tbl) < capacity:
                tbl[item] = int(cnt)
            else:
                victim = min(tbl.items(), key=lambda x: (x[1], x[0]))
                del tbl[victim[0]]
                tbl[item] = victim[1] + int(cnt)
        state.update((list(tbl.keys()), [int(v) for v in tbl.values()]))
        top = sorted(tbl.items(), key=lambda x: (-x[1], x[0]))[:k]
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(top),
                "item": [t for t, _ in top],
                "est_count": [c for _, c in top],
                "rank": list(range(1, len(top) + 1)),
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_replicate_manifest_table(
    spark: SparkSession,
    source_root: str,
    replica_root: str,
    key: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    fs=None,
    source: "StreamSourceFactory | None" = None,
):
    """Streaming CDC replication: tail a manifest table's commit log as a
    MICRO-BATCH SOURCE and apply its change feed to a replica — the
    continuous form of the :class:`~door2door_etl_spark.io.manifest
    .ChangeFeedCursor` poll/commit loop (VERDICT r5 ask #5).

    The source is Spark's own file stream over the table's manifests
    directory: every commit creates exactly ONE new immutable manifest, so
    the file-source checkpoint — which records exactly which files each
    batch consumed — IS the consumer cursor, with no bespoke offset
    bookkeeping.  Each micro-batch holds the commit records that landed
    since the last batch (one tiny JSON line per commit; parsing them
    driver-side is O(commits), never data); the batch handler diffs
    ``min(new)-1 → max(new)`` with :func:`table_changes_manifest` (a
    distributed key+hash diff, pinned to those snapshots) and applies it
    via :func:`apply_changes_manifest` (deletes, then MERGE).

    Effectively-once: a crash between apply and checkpoint-commit
    re-delivers the SAME manifest files next start, the diff recomputes
    byte-identically against the same pinned versions, and the apply is
    idempotent — the streaming twin of the cursor's at-least-once +
    idempotent-apply contract.  A first batch that includes version 1
    seeds the replica (the v0→v1 diff is "everything inserted").

    Retention contract (same as the cursor): the source's vacuum keep
    floor must exceed the replica's maximum lag, or the diff raises the
    retained-versions error loudly — never a silent gap.  Scale: the
    stream moves only commit records; data moves once, in the diff/apply
    jobs, partition-scoped when ``partition_col`` is set.
    """
    import json as _json
    import os as _os

    from door2door_etl_spark.io.manifest import (
        apply_changes_manifest,
        table_changes_manifest,
    )

    from door2door_etl_spark.streaming.sources import commit_log_source

    src = ManifestTable(source_root, fs=fs) if fs is not None else ManifestTable(
        source_root
    )
    # injectable commit-log seam; the default file source's checkpoint is
    # the consumer cursor, and max_files_per_trigger bounds
    # commits-per-batch (smaller diff windows, finer-grained checkpoint
    # progress) — availableNow still drains the backlog
    feed = (source or commit_log_source(src.manifests_dir, max_files_per_trigger))(
        spark
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One row per COMMIT (not per data row) — bounded by construction.
        versions = sorted(
            _json.loads(r["value"])["version"] for r in batch_df.collect()
        )
        if not versions:
            return
        lo, hi = versions[0] - 1, versions[-1]
        if lo == 0:
            changes = src.read(spark, hi).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            changes = table_changes_manifest(
                spark, source_root, key=key, from_version=lo, to_version=hi,
                fs=fs,
            )
        apply_changes_manifest(
            spark, replica_root, changes, key, partition_col=partition_col,
            fs=fs,
        )

    return _run_foreach_batch(
        feed,
        checkpoint_dir,
        apply_batch,
        query_name=f"replicate:{_os.path.basename(source_root.rstrip('/'))}",
        available_now=available_now,
    )


def _admission_run_id(checkpoint_dir: str) -> str:
    """Stable per-checkpoint run identifier, persisted IN the checkpoint
    dir so it shares the checkpoint's lifetime: a restart from the same
    checkpoint (true replay, same batch ids) resolves the same id; a
    fresh checkpoint (batch ids restart at 0) mints a new one.  O_EXCL
    claim + read-on-exists, same shape as the manifest claim."""
    import os as _os
    import uuid as _uuid

    _os.makedirs(checkpoint_dir, exist_ok=True)
    marker = _os.path.join(checkpoint_dir, "_admission_run_id")
    try:
        fd = _os.open(marker, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
        try:
            rid = _uuid.uuid4().hex[:12]
            _os.write(fd, rid.encode())
        finally:
            _os.close(fd)
        return rid
    except FileExistsError:
        with open(marker) as fh:
            return fh.read().strip()


def _admit_tagged(index, batch_df: DataFrame, tag: str) -> DataFrame:
    """Admit ``batch_df`` into the self-updating ``index`` under admission
    ``tag``, separating a REPLAY of this tag's own delivery from
    RE-DELIVERY of a document another tag already admitted: the former
    re-emits its prior admissions, the latter drops as an exact duplicate,
    and only genuinely new rows run ``index.admit``."""
    id_col = index.id_col
    ids = index.admitted_ids(with_tags=True)
    own = ids.filter(F.col("admit_tag") == tag).select(id_col)
    other = ids.filter(
        (F.col("admit_tag") != tag) | F.col("admit_tag").isNull()
    ).select(id_col)
    # replay of THIS batch: re-emit its own prior admissions
    seen = batch_df.join(own, id_col, "left_semi")
    # admitted by ANY other batch: exact-duplicate delivery -> drop
    new = (
        batch_df.join(own, id_col, "left_anti")
        .join(other, id_col, "left_anti")
        .localCheckpoint(eager=True)
    )
    if new.limit(1).count() == 0:
        return seen
    return seen.unionByName(index.admit(new, tag=tag))


def stream_manifest_lsh_admission(
    docs_stream: DataFrame,
    index,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous-ingest LSH admission with a SELF-UPDATING index: each
    micro-batch is admission-filtered against (and atomically appended
    to) a :class:`~door2door_etl_spark.operators.dedup.ManifestLshBandIndex`
    — the streaming completion of the manifest-versioned index story.
    Where :func:`stream_incremental_lsh_dedup` probes a STATIC corpus
    index, here today's admissions collide tomorrow's batch, and every
    update lands bands + admitted ids in ONE manifest commit.

    Replay safety (foreachBatch is at-least-once): every admission is
    committed TAGGED with its batch id, so the handler can tell a true
    REPLAY (this batch's own prior delivery — its admissions carry THIS
    batch id and must be re-emitted so the per-batch overwrite
    converges) from RE-DELIVERY of a document admitted by an EARLIER
    batch (an upstream re-publish landing under a new batch id — an
    exact-duplicate id, dropped like any other duplicate instead of
    being emitted twice).  Genuinely new rows run the shared admission
    rule; on a full-batch replay the previously-dropped subset re-drops
    identically (index collisions now hit the first delivery's
    admissions; intra-batch relations among the replayed rows are
    unchanged) — effectively-once without a streaming state store, the
    state being the index's own versioned commits.

    Output: ``out_dir/batch_id=N`` per micro-batch (overwritten on
    replay), rows = admitted members of the batch.
    """
    # Namespace tags per checkpoint lifetime: a NEW stream with a fresh
    # checkpoint restarts batch ids at 0, and a bare batch-id tag would
    # misclassify an earlier deployment's batch-0 admissions as THIS
    # batch's own replay (re-emitting instead of dropping them).
    run_id = _admission_run_id(checkpoint_dir)

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = _admit_tagged(index, batch_df, f"{run_id}:{batch_id}")
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _run_foreach_batch(docs_stream, checkpoint_dir, admit_batch)


def _quality_kept(
    batch_df: DataFrame,
    weights: DataFrame,
    text_col: str,
    id_col: str,
    dim: int,
    binary: bool,
    intercept: bool,
    min_score: float,
) -> DataFrame:
    """The rows of ``batch_df`` the classifier ``weights`` keeps."""
    from door2door_etl_spark.operators.classifier import (
        hashed_features,
        score_logreg,
    )

    feats = hashed_features(
        batch_df,
        text_col=text_col,
        id_col=id_col,
        dim=dim,
        binary=binary,
        intercept=intercept,
    )
    scored = score_logreg(batch_df, feats, weights, id_col=id_col)
    # sigmoid is monotone, so at the default 0.5 the exact margin-sign
    # `pred` decides (float-robust boundary); other thresholds compare
    # the score directly.
    keep = (
        F.col("pred") if min_score == 0.5 else (F.col("score") >= F.lit(min_score))
    )
    return batch_df.join(scored.filter(keep).select(id_col), id_col, "left_semi")


def stream_quality_filter(
    docs_stream: DataFrame,
    weights: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    binary: bool = True,
    intercept: bool = True,
    min_score: float = 0.5,
):
    """Deploy a trained quality classifier on the ingest stream: the
    serving twin of operators.classifier (train offline on the corpus,
    score every incoming document, keep the ones above ``min_score``).

    ``weights`` is the STATIC trained weight relation (feature, w) from
    train_logreg — dim-bounded, so the per-batch margin join always
    broadcasts.  The featurization config (dim/binary/intercept) must
    match training; the margin is exact arithmetic, and min_score = 0.5
    reproduces the batch operator's margin-sign ``pred``.

    foreachBatch rather than a stream-static join because the margin is a
    per-document aggregate over the batch's own exploded feature rows —
    not expressible as a single stream-static join without an unbounded
    aggregation state.  foreachBatch delivery is at-least-once, so each
    batch OVERWRITES its own ``batch_id=N`` subdirectory (replay rewrites
    the same files — effectively-once, same discipline as
    stream_decontaminate).  No streaming state store; per-batch cost is
    one broadcast join + one partial aggregation.
    """

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = _quality_kept(
            batch_df, weights, text_col, id_col, dim, binary, intercept,
            min_score,
        )
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _run_foreach_batch(docs_stream, checkpoint_dir, score_batch)


def stream_quality_filter_hot_reload(
    docs_stream: DataFrame,
    weights_root: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    binary: bool = True,
    intercept: bool = True,
    min_score: float = 0.5,
    fs=None,
):
    """:func:`stream_quality_filter` with the model served from a MODEL
    REGISTRY: ``weights_root`` is a manifest table (io.manifest) holding
    the trained weight relation, committed densely
    (operators.classifier.dense_weights + merge_manifest key='feature' —
    every version a full replacement).

    Each micro-batch resolves the LATEST COMMITTED version once and
    scores with that pinned snapshot, so a retrain landing mid-stream
    swaps the model atomically BETWEEN batches, never within one, and
    every output row carries ``model_version`` for provenance.  Replays
    of a batch re-resolve the version — with the overwrite-per-batch
    sink that makes the replay adopt the NEWEST model, which is the
    desired behavior for a quality filter (re-scoring with a better
    model is an upgrade, not a correctness violation; pin to a fixed
    version via stream_quality_filter with a read_version snapshot if
    bitwise replay matters more than freshness)."""
    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        table = (
            ManifestTable(weights_root, fs=fs)
            if fs is not None
            else ManifestTable(weights_root)
        )
        version = table.current_version()
        if version is None:
            raise ValueError(
                f"no committed model at {weights_root}; train and "
                "merge_manifest a dense weight relation first"
            )
        weights = table.read(spark, version).select("feature", "w")
        kept = _quality_kept(
            batch_df, weights, text_col, id_col, dim, binary, intercept,
            min_score,
        ).withColumn("model_version", F.lit(version))
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _run_foreach_batch(docs_stream, checkpoint_dir, score_batch)


def stream_hdr_maintenance(
    spark: SparkSession,
    stream_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    table_root: str,
    checkpoint_dir: str,
    sub_bits: int = 4,
):
    """Incrementally maintained HDR histogram over a stream — same
    batch-ledger discipline as :func:`stream_cms_maintenance` (HDR merge
    is SUM, i.e. non-idempotent, so an at-least-once replay must
    overwrite its own batch's rows, never re-add them): state rows are
    keyed by ``(batch_id, group..., bin)`` and MERGE-upserted per batch.

    Read back with :func:`read_hdr_state` and feed
    ``operators.sketches.hdr_quantiles`` — streaming ingestion thereby
    keeps per-group quantile estimates continuously fresh with
    O(batches x groups x bins) state and no raw-value retention."""
    from door2door_etl_spark.operators.sketches import hdr_histogram_table

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        bins = hdr_histogram_table(
            batch_df, group_cols, value_col, sub_bits=sub_bits
        ).withColumn("batch_id", F.lit(batch_id))
        keyed = bins.withColumn(
            "cell_key", _group_key_expr(["batch_id", *group_cols, "bin"])
        )
        merge_manifest(spark, table_root, keyed, key="cell_key")

    return _run_foreach_batch(stream_df, checkpoint_dir, merge_batch)


def read_hdr_state(
    spark: SparkSession, table_root: str, group_cols: list[str]
) -> DataFrame:
    """Collapse a maintained HDR ledger to the global per-group bin table
    ``(group..., bin, cnt)`` — SUM across batch rows (the lossless HDR
    merge); feed to ``operators.sketches.hdr_quantiles``."""
    return (
        spark.read.parquet(table_root)
        .groupBy(*group_cols, "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_aggview_maintenance(
    spark: SparkSession,
    view,
    checkpoint_dir: str,
    available_now: bool = True,
    source: "StreamSourceFactory | None" = None,
):
    """Continuous incremental view maintenance: tail a MANIFEST source
    table's commit log (same micro-batch file source as
    :func:`stream_replicate_manifest_table`) and advance an
    :class:`~door2door_etl_spark.pipeline.aggview.IncrementalAggView`
    once per discovered commit batch.

    Unlike the replication stream, the commit stream here is purely a
    NOTIFICATION channel — the refresh itself is driven by the view's own
    durable cursor, and its window ledger commits atomically with the
    group updates, so a redelivered notification (crash between refresh
    and checkpoint commit) triggers a refresh that no-ops or
    replay-skips.  Nothing about correctness depends on the stream's
    delivery guarantees; the stream only bounds STALENESS.
    """
    import os as _os

    src = ManifestTable(view.source_root)

    def refresh_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        view.refresh(spark)

    from door2door_etl_spark.streaming.sources import commit_log_source

    feed = (source or commit_log_source(src.manifests_dir))(spark)
    return _run_foreach_batch(
        feed,
        checkpoint_dir,
        refresh_batch,
        query_name=f"aggview:{_os.path.basename(view.view_root.rstrip('/'))}",
        available_now=available_now,
    )


def stream_curate(
    docs_stream: DataFrame,
    index,
    lake_root: str,
    checkpoint_dir: str,
    *,
    langs: tuple[str, ...] | None = ("en",),
    gopher: bool = True,
    min_words: int = 30,
    benchmark: DataFrame | None = None,
    decon_shingle_n: int = 3,
):
    """Streaming curation funnel — the continuous-ingest twin of
    :func:`door2door_etl_spark.pipeline.curation.curate_corpus`, landing
    survivors in the SAME curated lake table the batch CLI step writes
    (``<lake_root>/curated/documents``), so a batch bootstrap and a
    continuous top-up compose.

    Per micro-batch: normalize → language-id → Gopher quality rules (all
    map-side column expressions, zero shuffle) → optional benchmark
    DECONTAMINATION (broadcast semi-join against the eval set's shingle
    set — the eval suite is orders of magnitude smaller than the stream)
    → near-duplicate ADMISSION against a self-updating
    :class:`~door2door_etl_spark.operators.dedup.ManifestLshBandIndex`
    (exact duplicates collide in every band, so a separate exact-digest
    stage is redundant here — admission subsumes it) → MERGE-upsert into
    the curated versioned table.

    Replay safety, layered end to end (foreachBatch is at-least-once):

    * the admission stage reuses :func:`stream_manifest_lsh_admission`'s
      run-id-namespaced batch tags, so a true replay re-emits this
      batch's own prior admissions while an upstream RE-publish of an
      earlier batch's admission drops as an exact duplicate;
    * the lake landing is a keyed MERGE (idempotent — replaying a batch
      upserts the same rows onto themselves);
    * the per-batch funnel report is an overwrite of
      ``<lake_root>/curated/funnel_stream/batch_id=N`` — recomputed
      deterministically on replay, so it converges too.

    The stage semantics (thresholds, filter expressions, admission rule)
    are byte-identical to the batch operators — parity is pinned by
    ``test_stream_curate_matches_sequential_batch_admission``.
    """
    import os as _os

    from door2door_etl_spark.operators.text import (
        gopher_quality_flags,
        normalize_text,
        predict_language,
    )

    id_col, text_col = index.id_col, index.text_col
    run_id = _admission_run_id(checkpoint_dir)
    docs_root = _os.path.join(lake_root, "curated", "documents")
    funnel_root = _os.path.join(lake_root, "curated", "funnel_stream")

    def curate_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stages: list[tuple[str, int, int]] = []
        cur = batch_df.localCheckpoint(eager=True)
        n_cur = cur.count()

        def advance(name: str, nxt: DataFrame) -> None:
            nonlocal cur, n_cur
            nxt = nxt.localCheckpoint(eager=True)
            n_nxt = nxt.count()
            stages.append((name, n_cur, n_nxt))
            cur, n_cur = nxt, n_nxt

        advance("normalize", normalize_text(cur, text_col, out_col=text_col))
        if langs is not None:
            advance(
                "language_id",
                cur.filter(predict_language(F.col(text_col)).isin(*langs)),
            )
        if gopher:
            flagged = gopher_quality_flags(cur, text_col, min_words=min_words)
            advance(
                "quality_rules",
                flagged.filter(F.col("keep")).drop(
                    "word_count", "mean_word_len", "alpha_frac",
                    "stop_hits", "keep",
                ),
            )
        if benchmark is not None:
            from door2door_etl_spark.operators.dedup import ngram_decontaminate

            advance(
                "decontaminate",
                ngram_decontaminate(
                    cur, benchmark, text_col=text_col, id_col=id_col,
                    shingle_n=decon_shingle_n,
                ),
            )

        # Near-dup admission with the shared replay-vs-redelivery rule.
        kept = _admit_tagged(index, cur, f"{run_id}:{batch_id}")
        kept = kept.localCheckpoint(eager=True)
        n_kept = kept.count()
        stages.append(("near_dedup_admission", n_cur, n_kept))

        if n_kept:
            merge_manifest(spark, docs_root, kept, key=id_col)
        funnel = local.frame(
            spark,
            [
                (run_id, batch_id, i, s, a, b)
                for i, (s, a, b) in enumerate(stages)
            ],
            "run_id string, batch_id long, stage_idx int, "
            "stage string, docs_in long, docs_out long",
        )
        funnel.write.mode("overwrite").parquet(
            f"{funnel_root}/batch_id={batch_id}"
        )

    return _run_foreach_batch(docs_stream, checkpoint_dir, curate_batch)


def stream_index_documents(
    docs_stream: DataFrame,
    index,
    checkpoint_dir: str,
):
    """Continuous inverted-index maintenance: each micro-batch lands its
    postings + corpus-stat delta as ONE
    :class:`~door2door_etl_spark.operators.search.ManifestBM25Index`
    commit, stamped with a run-id-namespaced batch tag.

    Replay safety (foreachBatch is at-least-once): a crash between the
    index commit and the checkpoint commit re-delivers the batch; the
    tag test (:meth:`~door2door_etl_spark.operators.search.ManifestBM25Index.has_tag`)
    skips the re-delivery, so postings are never double-counted.
    DOCUMENT-level dedup is deliberately not this stream's job — an
    upstream admission stage (:func:`stream_curate` /
    :func:`stream_manifest_lsh_admission`) owns which documents exist;
    this stream owns exactly-once INDEXING of whatever arrives.
    """
    run_id = _admission_run_id(checkpoint_dir)

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"{run_id}:{batch_id}"
        if index.has_tag(tag):
            return  # true replay: this delivery already committed
        if batch_df.limit(1).count() == 0:
            return
        index.add(batch_df.localCheckpoint(eager=True), tag=tag)

    return _run_foreach_batch(docs_stream, checkpoint_dir, index_batch)


def stream_index_removals(
    changes_stream: DataFrame,
    index,
    checkpoint_dir: str,
    id_col: str = "doc_id",
):
    """Continuous inverted-index REMOVAL maintenance: deletes flowing
    off the curated lake (a change feed carrying ``_change_type``, or
    any stream of doomed ids) tombstone their documents out of the
    :class:`~door2door_etl_spark.operators.search.ManifestBM25Index`
    via :meth:`~door2door_etl_spark.operators.search.ManifestBM25Index.remove`
    — one atomic tombstone + negative-stat commit per micro-batch, so a
    doc deleted upstream stops being served and N/avgdl stay honest.

    Replay safety needs no tag here: ``remove`` is idempotent (an
    already-tombstoned id contributes nothing and an all-duplicate
    batch commits nothing), so at-least-once redelivery is a no-op.
    Rows with a ``_change_type`` column are filtered to deletes;
    streams without the column are treated as pure delete feeds."""

    def remove_batch(batch_df: DataFrame, batch_id: int) -> None:
        doomed = batch_df
        if "_change_type" in batch_df.columns:
            doomed = batch_df.filter(F.col("_change_type") == "delete")
        doomed = doomed.select(id_col)
        if doomed.limit(1).count() == 0:
            return
        index.remove(doomed.localCheckpoint(eager=True))

    return _run_foreach_batch(changes_stream, checkpoint_dir, remove_batch)


def stream_validate(
    spark: SparkSession,
    batches: DataFrame,
    suite,
    target_root: str,
    quarantine_root: str,
    checkpoint_dir: str,
    key: str,
    metrics_root: str | None = None,
):
    """Continuous constraint-checked loading: every micro-batch passes
    through the declared :class:`pipeline.expectations.ExpectationSuite`
    — passing rows MERGE into the versioned target, violations land in
    the quarantine with their rule tags and the micro-batch id, and the
    per-rule metrics append to a ledger keyed by batch id (the
    data-quality time series an operator alarms on).

    Replay posture (the family's standing at-least-once discipline):
    the target MERGE is idempotent by key; quarantine and metrics are
    per-batch OVERWRITES of their own ``batch_id=N`` subdirectory, so a
    replayed batch rewrites the same files instead of appending
    duplicates.  Fail-mode rules abort the batch function — the stream
    STOPS rather than landing a batch that breaks an invariant, which
    is exactly Delta's CHECK-constraint posture carried to streaming.
    """
    def validate_batch(batch_df: DataFrame, batch_id: int) -> None:
        passed, quarantined, metrics = suite.validate(batch_df)
        bad = quarantined.withColumn(
            "_quarantined_rules", F.col("_violated")
        ).drop("_violated")
        bad.write.mode("overwrite").parquet(
            f"{quarantine_root}/batch_id={batch_id}"
        )
        if metrics_root is not None:
            metrics.write.mode("overwrite").parquet(
                f"{metrics_root}/batch_id={batch_id}"
            )
        if not passed.isEmpty():
            merge_manifest(spark, target_root, passed, key=key)

    return _run_foreach_batch(batches, checkpoint_dir, validate_batch)


def _merge_then_refresh(spark: SparkSession, view, root: str, key: str):
    """foreachBatch body of the ingest-driven views: MERGE the batch into
    the view's source ``root`` by ``key``, then advance the view."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_manifest(spark, root, batch_df, key=key)
        view.refresh(spark)

    return apply_batch


def stream_aggview_ingest(
    spark: SparkSession,
    batches: DataFrame,
    view,
    checkpoint_dir: str,
):
    """INGEST-driven continuously maintained aggregate view: each
    micro-batch MERGEs into the view's source table and immediately
    advances the :class:`pipeline.aggview.IncrementalAggView` from the
    change feed — dashboard-grain aggregates that lag ingestion by one
    micro-batch, never recomputed from scratch.  Sibling of
    :func:`stream_aggview_maintenance` (the COMMIT-LOG-driven form that
    watches an existing table's commits); this form owns the ingest
    itself, for views whose source the stream is the sole writer of.

    Replay posture: the source MERGE is idempotent by the view's key,
    and ``refresh()`` is effectively-once BY CONSTRUCTION — the applied
    window's ledger row commits atomically with the group updates, and
    the landed-ledger scan advances the cursor past windows a crash
    already applied (`pipeline/aggview.py` crash-window tests).  So an
    at-least-once redelivery of a micro-batch converges: the re-MERGE
    is a no-op, the re-refresh sees an empty change window.  Per-batch
    maintenance cost is O(touched groups), the module's standing
    contract."""
    return _run_foreach_batch(
        batches,
        checkpoint_dir,
        _merge_then_refresh(spark, view, view.source_root, view.key),
    )


def stream_scd2_maintenance(
    spark: SparkSession,
    batches: DataFrame,
    dim_root: str,
    key: str,
    tracked_cols: list[str],
    ts_col: str,
    checkpoint_dir: str,
):
    """Continuously maintained SCD type-2 dimension: each micro-batch's
    latest state per key applies through :func:`pipeline.scd.scd2_merge`
    at the batch's max event time — attribute changes close the key's
    current validity interval and open a new one, so the dimension's
    history trails ingestion by one micro-batch (the streaming twin of
    the batch SCD2 family, same table, same read_current/read_asof
    serving).

    Grain: SCD2 intervals are per micro-batch — multiple changes of one
    key inside a batch collapse to the latest (ordered by ``ts_col``
    with the tracked attributes as deterministic tiebreak).  Replay
    posture: the effective timestamp derives from the BATCH DATA (max
    event time), so an at-least-once redelivery re-applies at the same
    effective time, classifies every key as unchanged, and merges
    nothing — idempotent by construction.  A FRESH-checkpoint replay of
    historical batches against an already-advanced dimension is
    different: re-applying an OLD state as a change would rewrite
    history backwards, and scd2_merge's monotonicity guard raises
    instead — rebuild into an empty dimension root for that.  Cost per
    batch is O(batch) against the dimension's current slice
    (scd2_merge's contract)."""
    from door2door_etl_spark.operators.relational import dedup_first_wins
    from door2door_etl_spark.pipeline.scd import scd2_merge

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        eff = batch_df.agg(F.max(ts_col).cast("string")).collect()[0][0]
        latest = dedup_first_wins(
            batch_df,
            [key],
            [F.col(ts_col).desc()]
            + [F.col(c).desc() for c in tracked_cols],
        )
        scd2_merge(
            spark,
            dim_root,
            latest.select(key, *tracked_cols),
            key=key,
            tracked_cols=tracked_cols,
            effective_ts=eff,
        )

    return _run_foreach_batch(batches, checkpoint_dir, apply_batch)


def stream_txn_co_commit(
    spark: SparkSession,
    batches: DataFrame,
    ops_builder,
    journal_root: str,
    checkpoint_dir: str,
    epoch=None,
):
    """Exactly-once MULTI-TABLE streaming sink: each micro-batch's
    derived table operations commit through one journaled
    :class:`io.txn.MultiTableTransaction` — the curated corpus and its
    stats ledger (or any composite state) move together, with
    roll-forward crash recovery, and (with ``epoch``) cross-table
    snapshot isolation for readers.

    ``ops_builder(batch_df) -> list[TxnOp]`` declares what the batch
    writes.  Exactly-once: the transaction id derives from the
    micro-batch id, so an at-least-once redelivery finds the completed
    journal entry and returns without touching any table (appends
    included — the usual streaming-append double-write hazard is
    closed by the journal, not by tag probes alone); a crash mid-batch
    resumes from the STAGED payloads, never re-reading the (possibly
    changed) input.  Journal scope: batch ids restart at zero for a
    fresh checkpoint, so a lost-checkpoint rerun over the SAME input is
    skipped by the journal (the desired exactly-once outcome) — but a
    fresh checkpoint over DIFFERENT input needs a fresh journal, or its
    early batches would be wrongly skipped."""
    from door2door_etl_spark.io.txn import MultiTableTransaction

    txn = MultiTableTransaction(journal_root, epoch=epoch)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ops = ops_builder(batch_df)
        if ops:
            txn.run(spark, ops, txn_id=f"batch{batch_id:08d}")

    return _run_foreach_batch(batches, checkpoint_dir, apply_batch)


def stream_spatial_density(
    points: DataFrame,
    x_col: str,
    y_col: str,
    ts_col: str,
    cell_size: float,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Continuously maintained heatmap: ping counts per (tumbling time
    window, grid cell) — a pure built-in windowed aggregation (cell
    derivation is a projection, the count partial-aggregates map-side,
    watermark bounds the state), the streaming twin of the batch
    density rollup.  Emits ``(window_start, cx, cy, n_points)``."""
    return (
        points.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("_w"),
            F.floor(F.col(x_col) / cell_size).cast("long").alias("cx"),
            F.floor(F.col(y_col) / cell_size).cast("long").alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(F.col("_w.start").alias("window_start"), "cx", "cy", "n_points")
    )


def stream_enrich_with_dim(
    facts_stream: DataFrame,
    dim_root: str,
    out_dir: str,
    checkpoint_dir: str,
    fk: str,
    dim_key: str,
    dim_cols: list[str],
    how: str = "left",
    epoch=None,
    broadcast_dim: bool = True,
):
    """Stream-static enrichment against a HOT dimension table: every
    micro-batch re-resolves the dimension's current manifest
    (or through a :class:`door2door_etl_spark.io.txn.LakeEpoch` pin when
    ``epoch`` is passed) AT BATCH TIME — so a dimension MERGE landing
    between micro-batches is visible to every later batch.  This is the
    fix for the classic stream-static join staleness pitfall: a plan-time
    static side is snapshotted once per *query* start, while production
    dimensions change under a long-running stream.  With ``epoch``, the
    batch additionally reads the same atomic version set as every other
    epoch reader (no torn multi-table views mid-transaction).

    Effectively-once: foreachBatch is at-least-once, so each batch
    OVERWRITES its own ``batch_id=N`` directory (the
    ``stream_decontaminate`` discipline) — a replayed batch rewrites the
    same files.  Note the replayed batch re-reads the dimension's CURRENT
    version, so replay convergence is to the fresher enrichment — the
    correct answer for a hot dimension.

    Scale: the dimension is broadcast by default (the many-to-one
    enrichment shape); pass ``broadcast_dim=False`` for a dimension past
    executor memory and let AQE pick the join strategy.
    """
    def enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch is not None:
            dim = epoch.read_table(spark, dim_root)
        else:
            dim = ManifestTable(dim_root).read(spark)
        dim = dim.select(F.col(dim_key).alias(fk), *dim_cols)
        if broadcast_dim:
            dim = F.broadcast(dim)
        out = batch_df.join(dim, fk, how)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _run_foreach_batch(facts_stream, checkpoint_dir, enrich_batch)


def stream_joinview_ingest(
    spark: SparkSession,
    facts: DataFrame,
    view,
    checkpoint_dir: str,
):
    """INGEST-driven continuously maintained JOIN view: each micro-batch
    MERGEs the incoming facts into the view's LEFT source table and
    immediately advances the
    :class:`pipeline.joinview.IncrementalJoinView` from BOTH change
    feeds — so the maintained enrichment stays one micro-batch behind
    ingestion AND picks up any dimension commits (updates, deletes,
    late-arriving rows) other writers landed since the last batch.
    Sibling of :func:`stream_aggview_ingest`, same replay posture: the
    fact MERGE is idempotent by the left key, and ``refresh()`` is
    effectively-once by the window ledger + landed-frontier recovery
    (`tests/test_joinview.py` crash-window tests), so an at-least-once
    micro-batch redelivery converges.  Per-batch maintenance cost is
    O(|batch|) + O(facts referencing changed dimension keys)."""
    return _run_foreach_batch(
        facts,
        checkpoint_dir,
        _merge_then_refresh(spark, view, view.left_root, view.left_key),
    )
