"""CLI entry point: ``python -m door2door_etl_spark -s all ...``

Mirrors the reference's executor CLI (reference src/executor.py:12-31 — a
click command with ``-s/--step`` in {all, ingestor, handler} and
``-w/--workflow`` to resume a staged ingest), plus the source/lake locations
the reference hard-codes via environment variables.  stdlib argparse — no
extra dependency.

Examples:
    python -m door2door_etl_spark -s all \
        --source '/lake/landing/dt=2022-11-24/*.json' --lake-root /lake
    python -m door2door_etl_spark -s handler -w <workflow-uuid> --lake-root /lake
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="door2door_etl_spark",
        description="Run the incremental ingest workflow (ingestor -> handler).",
    )
    parser.add_argument(
        "-s", "--step", default="all",
        choices=["all", "ingestor", "handler", "compact", "autocompact",
                 "vacuum", "restore",
                 "purge", "history", "train-quality-filter", "curate",
                 "fsck", "convert", "index", "search", "validate",
                 "replay-quarantine", "refresh-views", "recover"],
        help="which step(s) to run (reference: executor.py -s); compact/"
             "vacuum/restore/purge are lake-maintenance steps over the "
             "warehouse tables (purge materializes deletion vectors on "
             "manifest tables — the GDPR erasure endpoint); "
             "train-quality-filter trains the hashed-BoW classifier on "
             "--source documents and publishes dense weights to the "
             "<lake-root>/models/quality_filter registry; "
             "curate runs the composed pretraining-data funnel "
             "(pipeline.curation.curate_corpus) over --source documents "
             "and MERGEs survivors into <lake-root>/curated/documents; "
             "fsck audits manifest tables (listed files exist, orphan "
             "debris, --deep adds a distributed footer-row-count check); "
             "convert adopts an existing plain parquet dir (--source) as "
             "the manifest table <lake-root>/warehouse/<--table> via "
             "hard links, zero data copied; "
             "index builds (or incrementally grows) the BM25 inverted "
             "index <lake-root>/indexes/<--table> from --source "
             "documents; search serves a --query against it; "
             "validate runs the --rules expectation suite over --source "
             "as a checked upsert into <lake-root>/warehouse/<--table> "
             "(violators quarantined); replay-quarantine re-validates "
             "the quarantine under the CURRENT --rules and admits the "
             "now-passing rows back; refresh-views advances every "
             "declared materialized view (--views JSON; aggregate AND "
             "join views) from its source change feeds and prints a "
             "per-view summary; "
             "recover rolls every incomplete multi-table transaction "
             "forward from the journal (--source or <lake-root>/journal) "
             "and sweeps age-gated journal-less staging — run at writer "
             "startup",
    )
    parser.add_argument(
        "--query", default=None,
        help="search: whitespace-separated query terms",
    )
    parser.add_argument(
        "--top-k", type=int, default=10,
        help="search: result count",
    )
    parser.add_argument(
        "--stats-cols", default=None,
        help="convert: comma-separated stats declarations for the adopted "
             "table (plain columns for min/max, bloom:<col> for point-"
             "lookup bitmaps)",
    )
    parser.add_argument(
        "--label-token", default="dup",
        help="train-quality-filter: documents containing this token are "
             "the positive class (or use --label-col)",
    )
    parser.add_argument(
        "--label-col", default=None,
        help="train-quality-filter: existing 0/1 label column (overrides "
             "--label-token)",
    )
    parser.add_argument(
        "--clf-dim", type=int, default=64,
        help="train-quality-filter: hashed feature dimension",
    )
    parser.add_argument(
        "--clf-iterations", type=int, default=2,
        help="train-quality-filter: gradient-descent steps",
    )
    parser.add_argument(
        "--clf-lr", type=float, default=1.0,
        help="train-quality-filter: learning rate",
    )
    parser.add_argument(
        "--benchmark", default=None,
        help="curate: parquet path of the benchmark/eval set to "
             "decontaminate against (omit to skip that stage)",
    )
    parser.add_argument(
        "--langs", default="en",
        help="curate: comma-separated language codes to keep "
             "('-' disables the language stage)",
    )
    parser.add_argument(
        "--min-words", type=int, default=30,
        help="curate: Gopher rule word-count floor",
    )
    parser.add_argument(
        "--budget-tokens", type=int, default=None,
        help="curate: per-source token budget (omit to keep everything)",
    )
    parser.add_argument(
        "--deep", action="store_true",
        help="fsck: verify parquet footer row counts against manifest "
             "stats (distributed; needs a Spark session)",
    )
    parser.add_argument(
        "--table", default=None,
        help="compact/vacuum: warehouse table name (default: every table "
             "under <lake-root>/warehouse)",
    )
    parser.add_argument(
        "--rules", default=None,
        help="validate: path to a JSON expectation-suite declaration "
             '({"rules": [{"name", "expr", "mode", "null_ok"}...], '
             '"unique": [{"name", "key_cols", "mode"}...]})',
    )
    parser.add_argument(
        "--key", default=None,
        help="validate: merge key column for the checked upsert",
    )
    parser.add_argument(
        "--views", default=None,
        help="refresh-views: path to a JSON declaration of maintained "
             'materialized views ({"views": [{"type": "agg", '
             '"source_root", "view_root", "key", "group_cols", ...} | '
             '{"type": "join", "left_root", "right_root", "view_root", '
             '"left_key", "fk", "right_key", "left_cols", "right_cols", '
             '"how"}]}); paths may be lake-root-relative',
    )
    parser.add_argument(
        "--target-file-mb", type=int, default=128,
        help="compact: target output file size (MB)",
    )
    parser.add_argument(
        "--keep-versions", type=int, default=2,
        help="vacuum: committed snapshots to retain per table",
    )
    parser.add_argument(
        "--to-version", type=int, default=None,
        help="restore: retained snapshot version to roll the table back to",
    )
    parser.add_argument(
        "--min-age-hours", type=float, default=1.0,
        help="vacuum: time retention floor — a beyond-keep snapshot is "
             "only removed once older than this (protects long-running "
             "readers; Delta's retention-duration rule)",
    )
    parser.add_argument(
        "-w", "--workflow-id", default=None,
        help="workflow id; required for a bare handler run (reference: executor.py -w)",
    )
    parser.add_argument("--source", default=None, help="landing JSONL glob")
    parser.add_argument("--lake-root", required=True, help="lake root directory")
    parser.add_argument(
        "--fetch-hour", default=None,
        help="ISO hour to ingest (default: watermark + 1h, cold start "
             "2022-11-24T10:00 like the reference)",
    )
    args = parser.parse_args(argv)

    if args.step in ("all", "ingestor") and not args.source:
        parser.error("--source is required when running the ingestor")

    from door2door_etl_spark.pipeline import run_workflow
    from door2door_etl_spark.session import build_session

    if args.step == "train-quality-filter":
        if not args.source:
            parser.error("--source (documents parquet) is required for "
                         "train-quality-filter")
        return _run_train_quality_filter(args)

    if args.step == "curate":
        if not args.source:
            parser.error("--source (documents parquet) is required for curate")
        return _run_curate(args)

    if args.step == "convert":
        if not args.source or not args.table:
            parser.error("--source and --table are required for convert")
        return _run_convert(args)

    if args.step == "index":
        if not args.source or not args.table:
            parser.error("--source and --table are required for index")
        return _run_index(args)

    if args.step == "search":
        if not args.query or not args.table:
            parser.error("--query and --table are required for search")
        return _run_search(args)

    if args.step == "validate":
        if not args.source or not args.table or not args.rules or not args.key:
            parser.error(
                "--source, --table, --rules and --key are required for validate"
            )
        return _run_validate(args)

    if args.step == "replay-quarantine":
        if not args.table or not args.rules or not args.key:
            parser.error(
                "--table, --rules and --key are required for replay-quarantine"
            )
        return _run_replay_quarantine(args)

    if args.step == "refresh-views":
        if not args.views:
            parser.error("--views (JSON view declarations) is required "
                         "for refresh-views")
        return _run_refresh_views(args)

    if args.step == "recover":
        return _run_recover(args)

    if args.step in ("compact", "autocompact", "vacuum", "restore", "purge",
                     "history", "fsck"):
        return _run_maintenance(args)

    fetch_hour = (
        dt.datetime.fromisoformat(args.fetch_hour) if args.fetch_hour else None
    )
    spark = build_session(app_name="door2door-etl")
    try:
        summary = run_workflow(
            spark,
            args.source or "",
            args.lake_root,
            step=args.step,
            workflow_id=args.workflow_id,
            fetch_hour=fetch_hour,
        )
    except ValueError as exc:  # arg-combo errors exit(1) like the reference
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        spark.stop()
    print(json.dumps(summary, default=str))
    return 0


def _run_train_quality_filter(args) -> int:
    """Train the hashed-BoW logistic-regression quality filter on a
    document corpus and PUBLISH it to the lake's model registry
    (``<lake-root>/models/quality_filter`` — a manifest table of dense
    per-feature weights, every commit a full model replacement that
    streaming serving hot-reloads; see
    streaming.pipeline.stream_quality_filter_hot_reload).  Prints one
    JSON summary: registry version, corpus/label counts, and the
    training-set confusion matrix."""
    import os

    from pyspark.sql import functions as F

    from door2door_etl_spark.io.manifest import ManifestTable, merge_manifest
    from door2door_etl_spark.operators.classifier import (
        dense_weights,
        hashed_features,
        score_logreg,
        train_logreg,
    )
    from door2door_etl_spark.operators.text import tokens
    from door2door_etl_spark.session import build_session

    # Reuse an embedding caller's session (tests, notebooks) and leave its
    # lifecycle to them; standalone invocation builds and owns one — the
    # same discipline as _run_maintenance (stopping a getOrCreate-shared
    # session would kill the caller's).
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-train-quality-filter")
    try:
        docs = spark.read.parquet(args.source)
        if args.label_col:
            labels = docs.select(
                "doc_id", F.col(args.label_col).cast("double").alias("y")
            )
        else:
            labels = docs.select(
                "doc_id",
                F.array_contains(tokens(F.col("text")), args.label_token)
                .cast("double")
                .alias("y"),
            )
        cfg = dict(dim=args.clf_dim, binary=True, intercept=True)
        feats = hashed_features(docs, **cfg)
        w = train_logreg(
            feats, labels, iterations=args.clf_iterations, lr=args.clf_lr,
            class_balanced=True,
        )
        registry = os.path.join(args.lake_root, "models", "quality_filter")
        merge_manifest(
            spark, registry, dense_weights(spark, w, args.clf_dim),
            key="feature",
        )
        version = ManifestTable(registry).current_version()
        scored = score_logreg(docs, feats, w)
        cm = (
            scored.join(labels, "doc_id")
            .groupBy((F.col("y") == 1.0).alias("label"), "pred")
            .count()
            .collect()
        )
        confusion = {
            f"{'pos' if r['label'] else 'neg'}_"
            f"{'kept' if r['pred'] else 'dropped'}": r["count"]
            for r in cm
        }
        n_pos = sum(v for k, v in confusion.items() if k.startswith("pos"))
        print(json.dumps({
            "step": "train-quality-filter",
            "registry": registry,
            "registry_version": version,
            "n_docs": sum(confusion.values()),
            "n_positive": n_pos,
            "confusion": confusion,
        }))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_curate(args) -> int:
    """Run the composed curation funnel over a document corpus and land
    the result in the lake: survivors MERGE-upsert (idempotent, keyed by
    doc_id) into ``<lake-root>/curated/documents`` — a committed table,
    so re-running the same curation is a no-op and downstream readers
    always see a committed snapshot — and the per-stage funnel report is
    appended to ``<lake-root>/curated/funnel`` with a run id.  Prints one
    JSON summary line."""
    import os
    import uuid

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from door2door_etl_spark.io.manifest import merge_manifest
    from door2door_etl_spark.pipeline.curation import curate_corpus
    from door2door_etl_spark.session import build_session

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-curate")
    try:
        docs = spark.read.parquet(args.source)
        benchmark = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        langs = (
            None if args.langs == "-"
            else tuple(x for x in args.langs.split(",") if x)
        )
        kept, funnel = curate_corpus(
            spark,
            docs,
            langs=langs,
            min_words=args.min_words,
            benchmark=benchmark,
            budget_tokens=args.budget_tokens,
        )
        out_root = os.path.join(args.lake_root, "curated", "documents")
        n_kept = merge_manifest(spark, out_root, kept, key="doc_id")
        run_id = str(uuid.uuid4())
        funnel_path = os.path.join(args.lake_root, "curated", "funnel")
        funnel.withColumn("run_id", F.lit(run_id)).write.mode("append").parquet(
            funnel_path
        )
        stages = {
            r["stage"]: [r["docs_in"], r["docs_out"]] for r in funnel.collect()
        }
        print(json.dumps({
            "step": "curate",
            "run_id": run_id,
            "curated_table": out_root,
            "n_kept": n_kept,
            "funnel": stages,
        }))
        return 0
    finally:
        if active is None:
            spark.stop()


def _suite_from_json(path: str):
    """Build an ExpectationSuite from its JSON declaration (the rules
    file shared by the validate and replay-quarantine steps)."""
    from door2door_etl_spark.pipeline.expectations import (
        Expectation,
        ExpectationSuite,
        UniqueExpectation,
    )

    with open(path) as f:
        decl = json.load(f)
    return ExpectationSuite(
        rules=[
            Expectation(
                r["name"], r["expr"],
                mode=r.get("mode", "quarantine"),
                null_ok=bool(r.get("null_ok", False)),
            )
            for r in decl.get("rules", [])
        ],
        unique_rules=[
            UniqueExpectation(
                u["name"], tuple(u["key_cols"]), mode=u.get("mode", "quarantine")
            )
            for u in decl.get("unique", [])
        ],
    )


def _run_replay_quarantine(args) -> int:
    """Re-validate <lake-root>/quarantine/<table> under the CURRENT
    --rules declaration, MERGE now-passing rows back into the warehouse
    table, keep still-failing rows quarantined with refreshed tags —
    the recovery path after a rule or upstream-schema fix.  Idempotent:
    a second run admits nothing."""
    import os

    from pyspark.sql import SparkSession

    from door2door_etl_spark.pipeline.expectations import replay_quarantine
    from door2door_etl_spark.session import build_session

    suite = _suite_from_json(args.rules)
    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-replay-quarantine")
    try:
        try:
            out = replay_quarantine(
                spark,
                suite,
                target_root=os.path.join(args.lake_root, "warehouse", args.table),
                quarantine_root=os.path.join(
                    args.lake_root, "quarantine", args.table
                ),
                key=args.key,
            )
        except ValueError as exc:
            print(json.dumps({"step": "replay-quarantine", "aborted": str(exc)}))
            return 1
        print(json.dumps({"step": "replay-quarantine", **out}))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_validate(args) -> int:
    """Constraint-checked load: evaluate a declared expectation suite
    (--rules JSON) over --source in one pass, MERGE passing rows into
    ``<lake-root>/warehouse/<table>``, quarantine violations (with rule
    tags + batch id) under ``<lake-root>/quarantine/<table>``, and print
    the per-rule metrics as one JSON line.  Fail-mode violations abort
    before any write — Delta's CHECK-constraint posture."""
    import os
    import uuid

    from pyspark.sql import SparkSession

    from door2door_etl_spark.pipeline.expectations import checked_merge
    from door2door_etl_spark.session import build_session

    suite = _suite_from_json(args.rules)
    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-validate")
    try:
        batch = spark.read.parquet(args.source)
        batch_id = str(uuid.uuid4())
        try:
            out = checked_merge(
                spark,
                suite,
                batch,
                target_root=os.path.join(args.lake_root, "warehouse", args.table),
                quarantine_root=os.path.join(
                    args.lake_root, "quarantine", args.table
                ),
                key=args.key,
                batch_id=batch_id,
            )
        except ValueError as exc:
            print(json.dumps({"step": "validate", "aborted": str(exc)}))
            return 1
        print(json.dumps({"step": "validate", **out}))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_refresh_views(args) -> int:
    """Scheduled materialized-view maintenance: construct every view
    declared in the --views JSON (``type: agg`` →
    :class:`pipeline.aggview.IncrementalAggView`, ``type: join`` →
    :class:`pipeline.joinview.IncrementalJoinView`), advance each from
    its source change feed(s), and print one JSON line with the per-view
    refresh summaries — the cron-able batch twin of the streaming
    maintainers.  Root paths may be lake-root-relative."""
    import dataclasses
    import os

    from pyspark.sql import SparkSession

    from door2door_etl_spark.pipeline.aggview import IncrementalAggView
    from door2door_etl_spark.pipeline.joinview import IncrementalJoinView
    from door2door_etl_spark.session import build_session

    with open(args.views) as f:
        spec = json.load(f)
    decls = spec.get("views", [])
    if not decls:
        print(json.dumps({"step": "refresh-views", "error": "no views declared"}))
        return 1

    def _abs(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(args.lake_root, p)

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-refresh-views")
    try:
        results = []
        for d in decls:
            kind = d.get("type")
            cls = {"agg": IncrementalAggView, "join": IncrementalJoinView}.get(kind)
            if cls is None:
                print(json.dumps({
                    "step": "refresh-views",
                    "error": f"unknown view type {kind!r} (want agg|join)",
                }))
                return 1
            allowed = {f.name for f in dataclasses.fields(cls)}
            kwargs = {k: v for k, v in d.items() if k in allowed}
            unknown = set(d) - allowed - {"type"}
            if unknown:
                print(json.dumps({
                    "step": "refresh-views",
                    "error": f"unknown keys for {kind} view: {sorted(unknown)}",
                }))
                return 1
            # required = dataclass fields without a default; validate
            # BEFORE constructing so a sparse declaration gets the same
            # clean one-line JSON error as unknown type/keys, not a raw
            # KeyError/TypeError traceback
            required = {
                f.name
                for f in dataclasses.fields(cls)
                if f.default is dataclasses.MISSING
                and f.default_factory is dataclasses.MISSING
            }
            missing = required - set(kwargs)
            if missing:
                print(json.dumps({
                    "step": "refresh-views",
                    "error": (
                        f"missing required keys for {kind} view: "
                        f"{sorted(missing)}"
                    ),
                }))
                return 1
            for root_key in ("source_root", "view_root", "left_root", "right_root"):
                if root_key in kwargs:
                    kwargs[root_key] = _abs(kwargs[root_key])
            view = cls(**kwargs)
            out = view.refresh(spark)
            results.append({"type": kind, "view_root": kwargs["view_root"], **out})
        print(json.dumps({"step": "refresh-views", "views": results}, default=str))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_recover(args) -> int:
    """Writer-startup transaction recovery (io.txn.recover): roll every
    incomplete journaled multi-table transaction forward and sweep
    age-gated journal-less staging.  Journal root = ``--source`` or
    ``<lake-root>/journal``.  Prints one JSON summary line."""
    import os

    from pyspark.sql import SparkSession

    from door2door_etl_spark.io.txn import recover
    from door2door_etl_spark.session import build_session

    journal = args.source or os.path.join(args.lake_root, "journal")
    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-recover")
    try:
        recovered = recover(spark, journal)
        print(json.dumps({
            "step": "recover",
            "journal_root": journal,
            "recovered": recovered,
            "n_recovered": len(recovered),
        }, default=str))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_convert(args) -> int:
    """Adopt an existing plain parquet directory as a manifest warehouse
    table (io.manifest.convert_to_manifest): hard-linked files, footer
    stats, one atomic claim.  Prints one JSON summary line."""
    import os

    from pyspark.sql import SparkSession

    from door2door_etl_spark.io.manifest import convert_to_manifest
    from door2door_etl_spark.session import build_session

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-convert")
    try:
        root = os.path.join(args.lake_root, "warehouse", args.table)
        stats = (
            [c for c in args.stats_cols.split(",") if c]
            if args.stats_cols else None
        )
        n = convert_to_manifest(spark, args.source, root, stats_col=stats)
        print(json.dumps({
            "step": "convert", "table": args.table, "root": root,
            "files_adopted": n, "stats_cols": stats or [],
        }))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_index(args) -> int:
    """Build or grow the BM25 inverted index
    ``<lake-root>/indexes/<table>`` from a documents parquet — each call
    is one atomic postings+stats commit (operators.search
    .ManifestBM25Index).  Prints one JSON summary line."""
    import os

    from pyspark.sql import SparkSession

    from door2door_etl_spark.operators.search import ManifestBM25Index
    from door2door_etl_spark.session import build_session

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-index")
    try:
        root = os.path.join(args.lake_root, "indexes", args.table)
        idx = ManifestBM25Index(spark, root)
        docs = spark.read.parquet(args.source)
        version = idx.add(docs)
        n_docs, avgdl = idx.corpus_stats()
        print(json.dumps({
            "step": "index", "table": args.table, "root": root,
            "version": version, "n_docs": n_docs,
            "avgdl": round(avgdl, 4),
        }))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_search(args) -> int:
    """Serve one BM25 query against ``<lake-root>/indexes/<table>`` —
    reads only the query terms' postings files.  Prints one JSON line
    with the ranked results."""
    import os

    from pyspark.sql import SparkSession

    from door2door_etl_spark.operators.search import ManifestBM25Index
    from door2door_etl_spark.session import build_session

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="door2door-search")
    try:
        root = os.path.join(args.lake_root, "indexes", args.table)
        idx = ManifestBM25Index(spark, root)
        terms = args.query.split()
        hits = [
            {"doc_id": r["doc_id"], "score": r["score"]}
            for r in idx.topk(terms, k=args.top_k).collect()
        ]
        print(json.dumps({
            "step": "search", "table": args.table, "query": terms,
            "hits": hits,
        }))
        return 0
    finally:
        if active is None:
            spark.stop()


def _run_maintenance(args) -> int:
    """Lake maintenance: ``-s compact`` rewrites small files into
    ~target-file-mb files as a NEW committed snapshot; ``-s vacuum`` drops
    committed snapshots older than ``--keep-versions`` and sweeps orphaned
    files.  Both operate per warehouse table; the incremental MERGE sink
    accretes a version (and at least one small file) per batch, so both
    are routine cron jobs on a production lake."""
    from pathlib import Path

    from door2door_etl_spark.io.manifest import ManifestTable

    warehouse = Path(args.lake_root) / "warehouse"
    if args.table:
        roots = [warehouse / args.table]
    else:
        roots = sorted(
            p for p in warehouse.iterdir()
            if (p.is_dir() or p.is_symlink()) and not p.name.startswith(".")
        ) if warehouse.is_dir() else []
    if not roots:
        print(f"error: no warehouse tables under {warehouse}", file=sys.stderr)
        return 1

    report: dict[str, dict] = {}
    if args.step == "history":
        # Pure metadata: no Spark session.
        for root in roots:
            table = ManifestTable(str(root))
            report[root.name] = {
                "history": table.describe_history(),
                "schema_evolution": table.schema_evolution(),
            }
    elif args.step == "fsck":
        spark = built = None
        if args.deep:
            from pyspark.sql import SparkSession

            from door2door_etl_spark.session import build_session

            spark = SparkSession.getActiveSession()
            if spark is None:
                spark = built = build_session(app_name="door2door-fsck")
        try:
            for root in roots:
                table = ManifestTable(str(root))
                report[root.name] = (
                    table.fsck(spark, deep=args.deep)
                    if table.current_version() is not None
                    else {"skipped": "no committed version"}
                )
        finally:
            if built is not None:
                built.stop()
        # epoch pointer audit rides along: dangling pins break epoch
        # readers exactly like missing data files break table readers
        import os as _os

        epoch_root = _os.path.join(args.lake_root, "epoch")
        if _os.path.isdir(epoch_root):
            from door2door_etl_spark.io.txn import LakeEpoch

            report["_epoch"] = {"findings": LakeEpoch(epoch_root).fsck()}
    elif args.step == "restore":
        # Rollback is metadata-only: no Spark session.
        if not args.table or args.to_version is None:
            print("error: restore requires --table and --to-version",
                  file=sys.stderr)
            return 1
        from door2door_etl_spark.io.manifest import restore_manifest

        root = roots[0]
        new_v = restore_manifest(str(root), args.to_version)
        report[root.name] = {"restored_to": args.to_version, "new_version": new_v}
    elif args.step == "vacuum":
        for root in roots:  # metadata-only: no Spark session needed
            # Explicit maintenance is where the O(table) orphan sweep runs
            # (per-commit auto-vacuum frees only trimmed versions' files).
            removed = ManifestTable(str(root)).vacuum(
                keep=args.keep_versions,
                min_age_hours=args.min_age_hours,
                gc_files=True,
            )
            report[root.name] = {"removed_snapshots": removed}
    elif args.step == "autocompact":
        # Policy first, session only if some table needs the rewrite —
        # the healthy-lake cron case stays metadata-only (no JVM).
        from door2door_etl_spark.io.manifest import (
            compact_manifest,
            compaction_advice,
        )

        advices = {root: compaction_advice(str(root)) for root in roots}
        to_compact = [r for r, a in advices.items() if a["recommend"]]
        if to_compact:
            from pyspark.sql import SparkSession

            from door2door_etl_spark.session import build_session

            active = SparkSession.getActiveSession()
            spark = active or build_session(app_name="door2door-maintenance")
            try:
                for root in to_compact:
                    advices[root]["files_after"] = compact_manifest(
                        spark, str(root), target_file_mb=args.target_file_mb
                    )
            finally:
                if active is None:
                    spark.stop()
        report = {root.name: a for root, a in advices.items()}
    else:
        from pyspark.sql import SparkSession

        from door2door_etl_spark.io.manifest import (
            compact_manifest,
            purge_deletes_manifest,
        )
        from door2door_etl_spark.session import build_session

        # Reuse an embedding caller's session (and leave its lifecycle to
        # them); standalone invocation builds and owns one.
        active = SparkSession.getActiveSession()
        spark = active or build_session(app_name="door2door-maintenance")
        try:
            for root in roots:
                if args.step == "purge":
                    n = purge_deletes_manifest(spark, str(root))
                    report[root.name] = {"files_rewritten": n}
                else:
                    n = compact_manifest(
                        spark, str(root), target_file_mb=args.target_file_mb
                    )
                    report[root.name] = {"files_after": n}
        finally:
            if active is None:
                spark.stop()
    print(json.dumps({"step": args.step, "tables": report}, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
