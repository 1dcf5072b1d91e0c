"""End-to-end pipeline tests on a miniature synthetic hour of door2door-shaped
JSONL (FIXTURES.md §1), including idempotency: running the same hour twice
leaves the warehouse unchanged (reference semantics via deterministic key +
upsert, src/helper/helper.py:144-148 + src/helper/postgres.py:173-181)."""

import datetime as dt
import json
import uuid

import pytest

from door2door_etl_spark.pipeline.bookkeeping import (
    DEFAULT_START_HOUR,
    Bookkeeping,
)
from door2door_etl_spark.pipeline.executor import (
    check_inputs_consistency,
    run_workflow,
)

HOUR = dt.datetime(2022, 11, 24, 10, 0, 0)


def _vehicle(i, minute, org="org-1"):
    return {
        "event": "update",
        "on": "vehicle",
        "at": f"2022-11-24T10:{minute:02d}:00.000Z",
        "organization_id": org,
        "data": {
            "id": f"00000000-0000-0000-0000-{i:012d}",
            "location": {"lat": 52.0 + i, "lng": 13.0 + i, "at": f"2022-11-24T10:{minute:02d}:00.000Z"},
        },
    }


def _period(pid, org="org-1"):
    return {
        "event": "create",
        "on": "operating_period",
        "at": "2022-11-24T10:00:00.000Z",
        "organization_id": org,
        "data": {
            "id": pid,
            "start": "2022-11-24T08:00:00.000Z",
            "finish": "2022-11-24T20:00:00.000Z",
        },
    }


@pytest.fixture()
def landing(tmp_path):
    lines = [
        json.dumps(_vehicle(1, 4)),
        json.dumps(_vehicle(2, 5)),
        json.dumps(_vehicle(1, 4)),  # exact duplicate -> dedup by derived key
        "",  # blank line -> skipped
        "{not valid json",  # malformed -> dropped with PERMISSIVE policy
        json.dumps(_period("op_1")),
        json.dumps({"event": "x", "on": "mystery", "at": "2022-11-24T10:06:00Z",
                    "organization_id": "org-1", "data": {"id": "q"}}),
        # outside the hour bucket -> filtered by P1
        json.dumps(_vehicle(9, 4) | {"at": "2022-11-24T11:30:00.000Z"}),
    ]
    src = tmp_path / "landing"
    src.mkdir()
    (src / "file-a.json").write_text("\n".join(lines))
    return str(src / "*.json")


def test_check_inputs_consistency():
    check_inputs_consistency("all", None)
    with pytest.raises(ValueError):
        check_inputs_consistency("handler", None)
    with pytest.raises(ValueError):
        check_inputs_consistency("bogus", None)


def test_workflow_end_to_end_and_idempotent(spark, tmp_path, landing):
    lake = str(tmp_path / "lake")
    wid = str(uuid.uuid4())
    summary = run_workflow(spark, landing, lake, workflow_id=wid, fetch_hour=HOUR)

    assert summary["bronze_path"].endswith("dt=2022-11-24/hr=10")
    assert summary["merged"] == {"vehicle_location": 2, "operating_periods": 1}

    veh = spark.read.parquet(f"{lake}/warehouse/vehicle_location")
    assert veh.count() == 2
    assert set(veh.columns) == {
        "event_generated_id", "vehicle_id", "event_timestamp", "event_operation",
        "organization_id", "vehicle_latitude", "vehicle_longitude",
        "vehicle_location_timestamp", "original_s3_file_path",
    }
    first = {r["vehicle_id"]: r for r in veh.collect()}
    assert first["00000000-0000-0000-0000-000000000001"]["vehicle_latitude"] == 53.0

    # Replay the same hour under a new workflow id -> warehouse unchanged.
    wid2 = str(uuid.uuid4())
    run_workflow(spark, landing, lake, workflow_id=wid2, fetch_hour=HOUR)
    veh2 = spark.read.parquet(f"{lake}/warehouse/vehicle_location")
    assert veh2.count() == 2
    assert spark.read.parquet(f"{lake}/warehouse/operating_periods").count() == 1

    # Quarantine row recorded for the unknown entity.
    handler_log = spark.read.parquet(f"{lake}/monitor/handler_executions")
    quarantined = handler_log.filter("destination_table = '__quarantine__'")
    assert quarantined.count() == 2  # one per run
    assert quarantined.first()["records_inserted"] == 1


def test_watermark_cold_start_and_advance(spark, tmp_path, landing):
    lake = str(tmp_path / "lake")
    book = Bookkeeping(spark, f"{lake}/monitor")
    assert book.next_fetch_hour() == DEFAULT_START_HOUR

    wid = str(uuid.uuid4())
    run_workflow(spark, landing, lake, workflow_id=wid, fetch_hour=HOUR)
    assert book.next_fetch_hour() == HOUR + dt.timedelta(hours=1)
    assert book.ingestor_output_path(wid).endswith("hr=10")
    assert book.ingestor_output_path("no-such-workflow") is None


def test_failed_hour_excluded_from_watermark(spark, tmp_path):
    book = Bookkeeping(spark, str(tmp_path / "monitor"))
    book.record_ingestor("w1", HOUR, 3, "/p1")
    book.record_ingestor("w2", HOUR + dt.timedelta(hours=1), 0, None,
                         traceback="boom")
    assert book.last_successful_fetch_hour("ingestor") == HOUR
    assert book.next_fetch_hour() == HOUR + dt.timedelta(hours=1)


def test_ingestor_output_path_latest_execution_wins(spark, tmp_path):
    book = Bookkeeping(spark, str(tmp_path / "monitor"))
    book.record_ingestor("w1", HOUR, 3, "/first")
    book.record_ingestor("w1", HOUR, 3, "/second")
    book.record_ingestor("w1", HOUR, 3, "/failed", traceback="boom")
    assert book.ingestor_output_path("w1") == "/second"


def test_ingestor_output_path_runs_fixed_jobs(spark, tmp_path):
    """The lookup runs one job whichever bookkeeping file holds the match;
    an incremental take ran one or two."""
    book = Bookkeeping(spark, str(tmp_path / "monitor"))
    for i in range(4):  # one appended file per execution
        book.record_ingestor(f"w{i}", HOUR, 1, f"/p{i}")
    sc = spark.sparkContext
    jobs = []
    try:
        for i in range(4):
            sc.setJobGroup(f"lookup-w{i}", "ingestor_output_path")
            assert book.ingestor_output_path(f"w{i}") == f"/p{i}"
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"lookup-w{i}")))
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [1, 1, 1, 1], jobs


def test_failed_first_append_leaves_bookkeeping_readable(spark, tmp_path, monkeypatch):
    """A first bookkeeping append that dies inside its write job leaves an
    empty table directory behind.  The watermark and staged-path lookups
    read it with the declared schema as zero rows, instead of failing
    schema inference on every later run."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    write_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        df = self._df.withColumn(
            "traceback", F.raise_error(F.lit("injected")).cast("string")
        )
        return write_parquet(df.write.mode("append"), path, *args, **kwargs)

    book = Bookkeeping(spark, str(tmp_path / "monitor"))
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", failing_parquet)
        with pytest.raises(Exception, match="injected"):
            book.record_ingestor("w1", HOUR, 3, "/p1")
    assert (tmp_path / "monitor" / "ingestor_executions").is_dir()
    assert book.next_fetch_hour() == DEFAULT_START_HOUR
    assert book.ingestor_output_path("w1") is None


def test_upsert_updates_existing_keys(spark, tmp_path, landing):
    """Second batch with same key but new values -> UPDATE semantics (K1)."""
    lake = str(tmp_path / "lake")
    run_workflow(spark, landing, lake, workflow_id=str(uuid.uuid4()), fetch_hour=HOUR)

    # New landing file: same vehicle+timestamp (same derived key), new lng.
    amended = _vehicle(1, 4)
    amended["data"]["location"]["lng"] = 99.9
    src = tmp_path / "landing2"
    src.mkdir()
    (src / "file-b.json").write_text(json.dumps(amended))
    run_workflow(
        spark, str(src / "*.json"), lake,
        workflow_id=str(uuid.uuid4()), fetch_hour=HOUR,
    )

    veh = spark.read.parquet(f"{lake}/warehouse/vehicle_location")
    assert veh.count() == 2  # still two keys
    updated = veh.filter("vehicle_id = '00000000-0000-0000-0000-000000000001'").first()
    assert updated["vehicle_longitude"] == 99.9  # new row won


def test_multi_hour_backfill_watermark_driven(spark, tmp_path):
    """Three landing hours processed by watermark advancement alone (no
    explicit fetch_hour): each run picks up the next unprocessed hour, the
    warehouse accumulates all hours, replay stays idempotent."""

    def at(hour, minute):
        return f"2022-11-24T{hour:02d}:{minute:02d}:00.000Z"

    lines = []
    for h in (10, 11, 12):
        ev = _vehicle(h * 10, 5)
        ev["at"] = at(h, 5)
        ev["data"]["location"]["at"] = at(h, 5)
        lines.append(json.dumps(ev))
    src = tmp_path / "landing"
    src.mkdir()
    (src / "hours.json").write_text("\n".join(lines))
    glob = str(src / "*.json")
    lake = str(tmp_path / "lake")
    book = Bookkeeping(spark, f"{lake}/monitor")

    assert book.next_fetch_hour() == DEFAULT_START_HOUR  # cold start = hour 10
    for expected_hr in (10, 11, 12):
        summary = run_workflow(spark, glob, lake, workflow_id=str(uuid.uuid4()))
        assert summary["bronze_path"].endswith(f"hr={expected_hr}")
    assert book.next_fetch_hour() == HOUR + dt.timedelta(hours=3)

    veh = spark.read.parquet(f"{lake}/warehouse/vehicle_location")
    assert veh.count() == 3
    hours = sorted(r["event_timestamp"].hour for r in veh.collect())
    assert hours == [10, 11, 12]

    # Bronze is hour-partitioned: one directory per processed hour.
    import glob as globmod
    dirs = sorted(globmod.glob(f"{lake}/bronze/dt=2022-11-24/hr=*"))
    assert [d[-2:] for d in dirs] == ["10", "11", "12"]


def test_compact_parquet_table(spark, tmp_path):
    """Compaction collapses an accreted many-file plain table to few files
    with identical contents: the first commit adopts the directory in
    place, and plain readers keep reading the root."""
    from door2door_etl_spark.io.manifest import compact_manifest

    path = str(tmp_path / "accreted")
    for i in range(8):  # 8 append batches -> >= 8 files
        spark.range(i * 100, (i + 1) * 100).coalesce(2).write.mode(
            "append"
        ).parquet(path)
    import glob as g
    before_files = len(g.glob(f"{path}/*.parquet"))
    assert before_files >= 8
    before_sum = spark.read.parquet(path).agg({"id": "sum"}).collect()[0][0]

    n_after = compact_manifest(spark, path, target_file_mb=128)
    assert n_after < before_files
    after = spark.read.parquet(path)
    assert after.count() == 800
    assert after.agg({"id": "sum"}).collect()[0][0] == before_sum


def test_handler_pluggable_merge_sink(spark, tmp_path, landing):
    """K1 MergeSink protocol: the handler routes every warehouse upsert
    through sink_for, so a JDBC/Delta sink drops in without pipeline
    changes — proven by injecting a recording sink and observing that no
    parquet warehouse is ever written."""
    from door2door_etl_spark.io.readers import read_jsonl_events
    from door2door_etl_spark.io.writers import (
        JdbcMergeSink,
        MergeSink,
        ParquetMergeSink,
    )
    from door2door_etl_spark.pipeline.handler import run_handler
    from door2door_etl_spark.schemas.registry import builtin_door2door_schemas

    # Both shipped implementations satisfy the (runtime-checkable) protocol.
    assert isinstance(ParquetMergeSink(spark, "unused"), MergeSink)
    assert isinstance(JdbcMergeSink("jdbc:postgresql://wh/etl", "t"), MergeSink)

    bronze = str(tmp_path / "bronze")
    read_jsonl_events(spark, landing, hour=HOUR).write.parquet(bronze)

    calls = {}

    class RecordingSink:
        def __init__(self, table):
            self.table = table

        def merge(self, source, key):
            n = source.dropDuplicates([key]).count()
            calls[self.table] = (key, n)
            return n

    assert isinstance(RecordingSink("t"), MergeSink)
    book = Bookkeeping(spark, str(tmp_path / "monitor"))
    res = run_handler(
        spark,
        str(uuid.uuid4()),
        builtin_door2door_schemas(),
        str(tmp_path / "warehouse"),
        book,
        staged_path=bronze,
        sink_for=RecordingSink,
    )
    assert res == {"vehicle_location": 2, "operating_periods": 1}
    assert calls == {
        "vehicle_location": ("event_generated_id", 2),
        "operating_periods": ("event_generated_id", 1),
    }
    assert not (tmp_path / "warehouse").exists()


def test_jdbc_upsert_plan_contract(spark):
    """K1 JDBC warehouse sink (reference src/helper/postgres.py:157-189):
    no database ships in this container, so the contract surface is the
    generated server-side SQL + Spark JDBC writer options."""
    from door2door_etl_spark.io.writers import plan_jdbc_upsert

    plan = plan_jdbc_upsert(
        url="jdbc:postgresql://wh:5432/etl",
        table="vehicle_location",
        columns=["event_generated_id", "vehicle_id", "lat", "lng", "at"],
        key_cols=["event_generated_id"],
        batchsize=5000,
        num_partitions=4,
    )
    assert plan.staging_table == "vehicle_location__stage"
    assert plan.create_staging_sql == (
        "CREATE UNLOGGED TABLE IF NOT EXISTS vehicle_location__stage "
        "(LIKE vehicle_location INCLUDING DEFAULTS)"
    )
    # Reference upsert semantics: conflict on the key, every non-key column
    # updated from EXCLUDED, key columns never in the SET list.
    assert plan.upsert_sql == (
        "INSERT INTO vehicle_location "
        "(event_generated_id, vehicle_id, lat, lng, at)\n"
        "SELECT event_generated_id, vehicle_id, lat, lng, at "
        "FROM vehicle_location__stage\n"
        "ON CONFLICT (event_generated_id) DO UPDATE SET "
        "vehicle_id = EXCLUDED.vehicle_id, lat = EXCLUDED.lat, "
        "lng = EXCLUDED.lng, at = EXCLUDED.at"
    )
    assert plan.drop_staging_sql == "DROP TABLE IF EXISTS vehicle_location__stage"
    # Stale-staging hygiene: the executor runs DROP + CREATE before the
    # write (full schema+row reset), and counts staged rows server-side.
    assert plan.count_staging_sql == "SELECT count(*) FROM vehicle_location__stage"
    assert plan.writer_options == {
        "url": "jdbc:postgresql://wh:5432/etl",
        "dbtable": "vehicle_location__stage",
        "batchsize": "5000",
        "numPartitions": "4",
        "isolationLevel": "READ_COMMITTED",
    }


def test_jdbc_upsert_plan_validation():
    import pytest as _pytest

    from door2door_etl_spark.io.writers import plan_jdbc_upsert

    with _pytest.raises(ValueError, match="non-empty"):
        plan_jdbc_upsert("jdbc:x", "t", ["a", "b"], [])
    with _pytest.raises(ValueError, match="not in dataframe columns"):
        plan_jdbc_upsert("jdbc:x", "t", ["a", "b"], ["missing"])
    with _pytest.raises(ValueError, match="non-key column"):
        plan_jdbc_upsert("jdbc:x", "t", ["k1", "k2"], ["k1", "k2"])


def test_jdbc_upsert_composite_key_and_custom_staging():
    from door2door_etl_spark.io.writers import plan_jdbc_upsert

    plan = plan_jdbc_upsert(
        "jdbc:postgresql://wh/etl",
        "operating_period",
        ["op_id", "region", "start", "finish"],
        ["op_id", "region"],
        staging_table="op_stage",
    )
    assert "ON CONFLICT (op_id, region) DO UPDATE SET" in plan.upsert_sql
    assert "start = EXCLUDED.start, finish = EXCLUDED.finish" in plan.upsert_sql
    assert "op_id = EXCLUDED" not in plan.upsert_sql
    assert plan.writer_options["dbtable"] == "op_stage"


def test_object_uri_normalization_and_s3a_conf(spark):
    from door2door_etl_spark.io.objectstore import (
        configure_s3a,
        normalize_object_uri,
    )

    assert normalize_object_uri("s3://b/k.json") == "s3a://b/k.json"
    assert normalize_object_uri("s3a://b/k.json") == "s3a://b/k.json"
    assert normalize_object_uri("/local/path") == "/local/path"

    configure_s3a(spark, endpoint="http://minio.local:9000", path_style=True)
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    assert hc.get("fs.s3a.endpoint") == "http://minio.local:9000"
    assert hc.get("fs.s3a.path.style.access") == "true"


def test_write_sorted_parquet_disjoint_file_ranges(spark, tmp_path):
    """Range-partitioned export: each output file covers a disjoint key
    range (parquet min/max stats then prune point lookups to one file)."""
    import glob as globmod

    import pyarrow.parquet as pq

    from door2door_etl_spark.io.writers import write_sorted_parquet

    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    path = str(tmp_path / "sorted")
    write_sorted_parquet(df, path, ["k"], target_partitions=8)

    ranges = []
    for f in globmod.glob(f"{path}/part-*.parquet"):
        t = pq.read_table(f, columns=["k"])["k"]
        if len(t):
            ranges.append((t[0].as_py(), t[-1].as_py()))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint across files
    # Within each file the column is sorted (sortWithinPartitions held).
    for f in globmod.glob(f"{path}/part-*.parquet"):
        vals = pq.read_table(f, columns=["k"])["k"].to_pylist()
        assert vals == sorted(vals)


def test_curate_corpus_funnel_stages_and_semantics(spark):
    """The composed curation funnel on a hand-built corpus where every
    stage's effect is known exactly: language filter drops the Spanish doc,
    Gopher rules drop the too-short doc, exact dedup keeps the min-id copy,
    near-dedup keeps one member of the shingle-identical pair, and
    decontamination drops the doc sharing a 3-gram with the benchmark."""
    from pyspark.sql import Row

    from door2door_etl_spark.pipeline.curation import curate_corpus

    en_long = (
        "the quick brown fox jumps over the lazy dog and then walks to the "
        "old house where it finds some food and water for the evening meal"
    )
    near_base = (
        "a small boat sails across the calm lake while birds fly over the "
        "green hills and the fisherman waits patiently for "
    )
    near_a = near_base + "a large trout to bite the shiny hook"
    near_b = near_base + "a large trout to bite the shiny line"
    es = (
        "el perro y el gato que en la casa de la ciudad con un amigo muy "
        "bueno y la comida es para el que la casa de la familia es de los "
        "perros y el agua que es de la ciudad para los amigos de la casa"
    )
    contaminated = (
        "meanwhile the children play in the park near the school and they "
        "often sing this exact contaminated phrase overlaps benchmark today"
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="web", text=en_long),
            Row(doc_id=2, source="web", text=en_long),      # exact dup of 1
            Row(doc_id=3, source="web", text=near_a),
            Row(doc_id=4, source="web", text=near_b),       # near dup of 3
            Row(doc_id=5, source="web", text=es),           # not English
            # English (stopword hits) but under min_words -> fails Gopher
            Row(doc_id=6, source="web", text="the dog and the cat sat with me"),
            Row(doc_id=7, source="web", text=contaminated),
        ]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="exact contaminated phrase overlaps the eval")]
    )
    kept, funnel = curate_corpus(
        spark, docs, benchmark=bench, min_words=20, shingle_n=5
    )
    stages = {r["stage"]: (r["docs_in"], r["docs_out"]) for r in funnel.collect()}
    assert stages["normalize"] == (7, 7)
    assert stages["language_id"] == (7, 6)      # -es
    assert stages["quality_rules"] == (6, 5)    # -too-short
    assert stages["exact_dedup"] == (5, 4)      # -dup of 1
    assert stages["near_dedup"] == (4, 3)       # -near dup of 3
    assert stages["decontaminate"] == (3, 2)    # -contaminated
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_curate_corpus_budget_stage(spark):
    """Optional token-budget stage: per-source cap keeps the maximal
    hash-order prefix; stages not requested don't appear in the funnel."""
    from pyspark.sql import Row

    from door2door_etl_spark.pipeline.curation import curate_corpus
    from door2door_etl_spark.operators.text import token_count

    text = "the cat and the dog walk to the house near the river every day"
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s" if i % 2 else "t", text=text) for i in range(12)]
    )
    kept, funnel = curate_corpus(
        spark,
        docs,
        langs=None,
        gopher=False,
        exact=False,
        neardup=False,
        benchmark=None,
        budget_tokens=30,
    )
    names = [r["stage"] for r in funnel.collect()]
    assert names == ["normalize", "token_budget"]
    import pyspark.sql.functions as F

    per_source = {
        r["source"]: r["toks"]
        for r in kept.groupBy("source")
        .agg(F.sum(token_count(F.col("text"))).alias("toks"))
        .collect()
    }
    # 14 tokens/doc, budget 30 -> exactly 2 docs (28 tokens) per source.
    assert per_source == {"s": 28, "t": 28}


def test_cli_curate_lands_versioned_survivors(spark, tmp_path, capsys):
    """`-s curate` runs the funnel over a parquet corpus, MERGEs survivors
    into <lake>/curated/documents (idempotent: a second identical run
    leaves the same rows), appends the funnel report, and prints one JSON
    summary line."""
    import json as _json

    from pyspark.sql import Row

    from door2door_etl_spark.__main__ import main
    from door2door_etl_spark.io.manifest import ManifestTable

    good = (
        "the quick brown fox jumps over the lazy dog and then walks to the "
        "old house where it finds some food and water for the evening meal"
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="web", text=good),
            Row(doc_id=2, source="web", text=good),       # exact dup
            Row(doc_id=3, source="web", text="the cat sat"),  # fails Gopher
        ]
    )
    corpus = tmp_path / "docs.parquet"
    docs.write.parquet(str(corpus))
    lake = tmp_path / "lake"

    rc = main([
        "-s", "curate", "--source", str(corpus), "--lake-root", str(lake),
        "--min-words", "20",
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["step"] == "curate" and summary["n_kept"] == 1
    # langid keeps all 3 (every doc is English), Gopher drops the short
    # doc, exact dedup collapses the duplicate pair.
    assert summary["funnel"]["quality_rules"] == [3, 2]
    assert summary["funnel"]["exact_dedup"] == [2, 1]

    table = ManifestTable(str(lake / "curated" / "documents"))
    kept = table.read(spark).collect()
    assert [r["doc_id"] for r in kept] == [1]
    v1 = table.current_version()

    # Idempotent replay: same curation, same survivors, one more version,
    # same row count.
    rc = main([
        "-s", "curate", "--source", str(corpus), "--lake-root", str(lake),
        "--min-words", "20",
    ])
    assert rc == 0
    assert table.read(spark).count() == 1
    assert table.current_version() == v1 + 1

    funnel = spark.read.parquet(str(lake / "curated" / "funnel"))
    assert funnel.select("run_id").distinct().count() == 2


def test_cli_convert_adopts_legacy_parquet(spark, tmp_path, capsys):
    """`-s convert` adopts a plain parquet dir as a manifest warehouse
    table (hard links, stats incl. a bloom declaration) and the adopted
    table serves point lookups through the protocol."""
    import json as _json

    from door2door_etl_spark.__main__ import main
    from door2door_etl_spark.io.manifest import ManifestTable

    src = tmp_path / "legacy"
    spark.createDataFrame(
        [(i, f"u{i:03d}", i % 7) for i in range(200)],
        "id long, user string, bucket int",
    ).repartition(4).write.parquet(str(src))
    lake = tmp_path / "lake"

    rc = main([
        "-s", "convert", "--source", str(src), "--lake-root", str(lake),
        "--table", "legacy_users", "--stats-cols", "id,bloom:user",
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["step"] == "convert" and summary["files_adopted"] >= 4

    table = ManifestTable(str(lake / "warehouse" / "legacy_users"))
    assert table.read(spark).count() == 200
    man = table.manifest(table.current_version())
    assert man["stats_cols"] == ["id", "bloom:user"]
    got = table.read_where(spark, {"user": ("u042", "u042")}).collect()
    assert [(r["id"], r["user"]) for r in got] == [(42, "u042")]
    # the bloom pruned: not every file was listed for the point lookup
    kept = table._prune(man, {"user": ("u042", "u042")})
    assert 1 <= len(kept) < len(man["files"])


def test_cli_index_and_search(spark, tmp_path, capsys):
    """`-s index` builds the lake's BM25 inverted index (incremental:
    a second call with new docs is one more atomic commit), `-s search`
    serves ranked results from it."""
    import json as _json

    from door2door_etl_spark.__main__ import main

    d1 = tmp_path / "d1.parquet"
    d2 = tmp_path / "d2.parquet"
    spark.createDataFrame(
        [(1, "spark shuffle join spark window"),
         (2, "scan filter scan scan agg")],
        "doc_id long, text string",
    ).write.parquet(str(d1))
    spark.createDataFrame(
        [(3, "spark scan spark scan window window")],
        "doc_id long, text string",
    ).write.parquet(str(d2))
    lake = str(tmp_path / "lake")

    rc = main(["-s", "index", "--source", str(d1), "--lake-root", lake,
               "--table", "docs"])
    assert rc == 0
    out1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_docs"] == 2 and out1["version"] == 1

    rc = main(["-s", "index", "--source", str(d2), "--lake-root", lake,
               "--table", "docs"])
    assert rc == 0
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_docs"] == 3 and out2["version"] == 2

    rc = main(["-s", "search", "--query", "spark scan", "--lake-root", lake,
               "--table", "docs", "--top-k", "3"])
    assert rc == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ids = [h["doc_id"] for h in res["hits"]]
    assert set(ids) == {1, 2, 3} and ids[0] == 3  # 3 hits both terms hard
