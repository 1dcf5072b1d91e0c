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
| cross-batch upsert           | ``stream_batches`` → MERGE (idempotent)     |
| late/malformed handling      | ``withWatermark`` + PERMISSIVE corrupt drop |

Tests drive these with ``trigger(availableNow=True)`` — the batch-bounded
streaming mode — so the same code path serves both continuous clusters and
catch-up/backfill runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.manifest import ManifestTable, merge_manifest
from door2door_etl_spark.io.writers import ParquetMergeSink
from door2door_etl_spark.operators import local
from door2door_etl_spark.pipeline.aggview import _group_key_expr
from door2door_etl_spark.schemas.registry import EntitySchema
from door2door_etl_spark.session import ensure_runtime_confs


def stream_batches(
    stream: DataFrame,
    checkpoint_dir: str,
    batch_fn,
    sink=None,
    *,
    key: str | None = None,
    query_name: str | None = None,
    available_now: bool = True,
):
    """Run a batch operator on every micro-batch of ``stream``: the
    engine's one ``foreachBatch`` adapter.  ``batch_fn(batch_df,
    batch_id)`` sees each micro-batch as a static DataFrame, so any batch
    operator runs on a stream unchanged.  Progress is kept in
    ``checkpoint_dir``.  With ``available_now`` the query processes what
    is available and stops; without it, it runs until stopped.  Returns
    the ``StreamingQuery``.

    **At-least-once in, effectively-once out.**  ``foreachBatch``
    delivery is at-least-once: a crash between a batch's writes and the
    checkpoint's commit marker redelivers that batch on restart, with
    the same ``batch_id`` and the same input.  So a batch may land only
    through a write that a redelivery repeats without changing the
    result, as the reference does with a deterministic key and an upsert
    (src/helper/helper.py:144-148, src/helper/postgres.py:173-181).
    ``sink`` names the write:

    * a directory (``str``): ``batch_fn`` returns a DataFrame that
      OVERWRITES ``<sink>/batch_id=N``.  A redelivery rewrites the same
      directory instead of appending a duplicate.
    * a :class:`~door2door_etl_spark.io.writers.MergeSink`
      (``ParquetMergeSink``, ``JdbcMergeSink``): ``batch_fn`` returns a
      DataFrame that is MERGEd by ``key``.  Re-merging the same rows is a
      no-op.  An empty result merges nothing.
    * ``None``: ``batch_fn`` commits by itself, idempotently per batch,
      and its return value is ignored.  Either the commit is keyed by the
      batch id (a ``MultiTableTransaction`` whose ``txn_id`` derives from
      it, an index commit tagged with it, a ledger row), or it is
      idempotent by construction (a view's own window ledger, a MAX
      merge, a tombstone).

    A ``batch_fn`` that reads fresher state on a redelivery (the current
    version of a dimension or of a model) converges to the fresher
    answer.
    """
    if isinstance(sink, str):
        def run(batch_df: DataFrame, batch_id: int) -> None:
            batch_fn(batch_df, batch_id).write.mode("overwrite").parquet(
                f"{sink}/batch_id={batch_id}"
            )
    elif sink is not None:
        if key is None:
            raise ValueError("a MergeSink discipline needs the merge key")

        def run(batch_df: DataFrame, batch_id: int) -> None:
            out = batch_fn(batch_df, batch_id)
            if not out.isEmpty():
                sink.merge(out, key=key)
    else:
        run = batch_fn
    writer = stream.writeStream.foreachBatch(run).option(
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

    MAX-merge is idempotent: a redelivered batch re-merges the same
    registers to the same values, so no batch ledger is needed (compare
    :func:`stream_sketch_ledger` for SUM-merged sketches).  The state
    lands through :func:`stream_batches`' MERGE discipline, keyed on
    (group…, bucket).  Scale: the shuffled state per batch is register
    partials (<= groups x 2^p rows), never event rows.
    """
    from pyspark.errors import AnalysisException

    from door2door_etl_spark.operators.sketches import (
        hll_merge,
        hll_register_table,
    )

    def registers(batch_df: DataFrame, batch_id: int) -> DataFrame:
        regs = hll_register_table(batch_df, group_cols, col, p=p, salt=salt)
        try:
            current = spark.read.parquet(table_root)
        except AnalysisException:
            pass  # before the first commit
        else:
            regs = hll_merge(
                current.select(*group_cols, "bucket", "register").unionByName(regs),
                group_cols,
            )
        return regs.withColumn(
            "sketch_key", _group_key_expr([*group_cols, "bucket"])
        )

    return stream_batches(
        stream_df, checkpoint_dir, registers,
        ParquetMergeSink(spark, table_root), key="sketch_key",
    )


def stream_sketch_ledger(
    spark: SparkSession,
    stream_df: DataFrame,
    sketch_fn,
    table_root: str,
    checkpoint_dir: str,
):
    """Incrementally maintained SUM-merged sketch over a stream.
    ``sketch_fn(batch_df)`` is the batch sketch operator, for example
    ``lambda df: operators.sketches.cms_sketch_table(df, [], "tok")``
    (Count-Min) or ``lambda df: hdr_histogram_table(df, ["g"], "v")``
    (HDR histogram); it returns cells ``(cell…, cnt)``.

    SUM-merge is not idempotent: re-adding a redelivered batch would
    double-count.  So the state is a batch ledger: each batch's cells are
    keyed by ``(batch_id, cell…)`` and land through
    :func:`stream_batches`' MERGE discipline, so a redelivered batch N
    overwrites batch N's own rows.  Batch ids are stable across restarts
    of one checkpoint, which is what makes the ledger sound.  The key
    encodes NULLs per column, so NULL-bearing group tuples stay distinct.
    :func:`read_sketch_ledger` collapses the ledger to the global sketch.
    State is O(batches x cells) rows.
    """
    def ledger_rows(batch_df: DataFrame, batch_id: int) -> DataFrame:
        cells = sketch_fn(batch_df)
        cell_cols = [c for c in cells.columns if c != "cnt"]
        return cells.withColumn("batch_id", F.lit(batch_id)).withColumn(
            "cell_key", _group_key_expr(["batch_id", *cell_cols])
        )

    return stream_batches(
        stream_df, checkpoint_dir, ledger_rows,
        ParquetMergeSink(spark, table_root), key="cell_key",
    )


def read_sketch_ledger(spark: SparkSession, table_root: str) -> DataFrame:
    """Collapse a :func:`stream_sketch_ledger` table to the global sketch
    ``(cell…, cnt)``: SUM across batches, the lossless merge of Count-Min
    and HDR.  Feed it to ``operators.sketches.cms_point_estimate`` or
    ``hdr_quantiles``."""
    ledger = spark.read.parquet(table_root)
    cells = [c for c in ledger.columns if c not in ("batch_id", "cell_key", "cnt")]
    return ledger.groupBy(*cells).agg(F.sum("cnt").alias("cnt"))


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

    Replay: :func:`stream_batches` with no sink.  A redelivered batch
    holds the same manifest files, the diff recomputes against the same
    pinned versions, and the apply is idempotent.  A first batch that
    includes version 1 seeds the replica (the v0→v1 diff is "everything
    inserted").

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

    return stream_batches(
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
    Where ``index.admit(batch, update_index=False)`` under
    :func:`stream_batches` probes a STATIC corpus index, here today's
    admissions collide tomorrow's batch, and every update lands bands +
    admitted ids in ONE manifest commit.

    Replay: :func:`stream_batches`' overwrite discipline, plus an index
    that remembers the batch.  Every admission is committed TAGGED with
    its batch id, so the handler can tell a true
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

    return stream_batches(
        docs_stream,
        checkpoint_dir,
        lambda batch_df, batch_id: _admit_tagged(
            index, batch_df, f"{run_id}:{batch_id}"
        ),
        out_dir,
    )


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
    """Deploy the trained quality classifier on the ingest stream, with
    the model served from a MODEL REGISTRY: ``weights_root`` is a
    manifest table (io.manifest) holding the trained weight relation,
    committed densely (operators.classifier.dense_weights +
    merge_manifest key='feature' — every version a full replacement).
    Each micro-batch keeps the documents
    :func:`~door2door_etl_spark.operators.classifier.quality_keep` keeps;
    the featurization config (dim/binary/intercept) must match training.

    Each micro-batch resolves the LATEST COMMITTED version once and
    scores with that pinned snapshot, so a retrain landing mid-stream
    swaps the model atomically BETWEEN batches, never within one, and
    every output row carries ``model_version`` for provenance.  Output
    lands through :func:`stream_batches`' overwrite discipline in
    ``out_dir/batch_id=N``; a redelivered batch re-resolves the version
    and so adopts the NEWEST model (re-scoring with a better model is an
    upgrade, not a correctness violation).  To pin a fixed model, run
    ``quality_keep`` with fixed weights under :func:`stream_batches`."""
    from door2door_etl_spark.operators.classifier import quality_keep

    def score_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
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
        return quality_keep(
            batch_df, weights, text_col, id_col, dim, binary, intercept,
            min_score,
        ).withColumn("model_version", F.lit(version))

    return stream_batches(docs_stream, checkpoint_dir, score_batch, out_dir)


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

    Replay safety, layered end to end (:func:`stream_batches` with no
    sink; the batch commits itself):

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

    return stream_batches(docs_stream, checkpoint_dir, curate_batch)


def stream_index_documents(
    docs_stream: DataFrame,
    index,
    checkpoint_dir: str,
):
    """Continuous inverted-index maintenance: each micro-batch lands its
    postings + corpus-stat delta as ONE
    :class:`~door2door_etl_spark.operators.search.ManifestBM25Index`
    commit, stamped with a run-id-namespaced batch tag.

    Replay: :func:`stream_batches` with no sink; the tag test
    (:meth:`~door2door_etl_spark.operators.search.ManifestBM25Index.has_tag`)
    skips a redelivered batch, so postings are never double-counted.
    DOCUMENT-level dedup is deliberately not this stream's job — an
    upstream admission stage (:func:`stream_curate` /
    :func:`stream_manifest_lsh_admission`) owns which documents exist;
    this stream owns exactly-once INDEXING of whatever arrives.
    """
    run_id = _admission_run_id(checkpoint_dir)

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"{run_id}:{batch_id}"
        if not index.has_tag(tag):  # else a redelivery, already committed
            index.add(batch_df, tag=tag)

    return stream_batches(docs_stream, checkpoint_dir, index_batch)


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

    Replay: passing rows land through :func:`stream_batches`' MERGE
    discipline; quarantine and metrics overwrite their own
    ``batch_id=N`` subdirectory.  Fail-mode rules abort the batch
    function — the stream STOPS rather than landing a batch that breaks
    an invariant, which is exactly Delta's CHECK-constraint posture
    carried to streaming.
    """
    def validate_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
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
        return passed

    return stream_batches(
        batches, checkpoint_dir, validate_batch,
        ParquetMergeSink(spark, target_root), key=key,
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
    (:func:`stream_batches` with no sink): the effective timestamp
    derives from the BATCH DATA (max event time), so a redelivery
    re-applies at the same
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
        eff = batch_df.agg(F.max(ts_col).cast("string")).collect()[0][0]
        if eff is None:
            return  # no event time in the batch: nothing to apply
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

    return stream_batches(batches, checkpoint_dir, apply_batch)


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
