"""Declarative expectations (pipeline/expectations.py).

Reference model: an independent pure-Python evaluation of the same rules
over the same rows — the suite's single-pass tagged frame, the
pass/quarantine/drop split, the per-rule metrics, fail-mode abort, and
the constraint-checked merge must all agree with it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from door2door_etl_spark.pipeline.expectations import (
    Expectation,
    ExpectationSuite,
    UniqueExpectation,
    checked_merge,
)

ROWS = [
    # (id, qty, status)
    ("a", 5, "open"),
    ("b", -1, "open"),      # breaks qty_nonneg
    ("c", 7, None),         # breaks status_known (null, strict default)
    ("d", 12, "bogus"),     # breaks status_known
    ("e", 3, "done"),
    ("e", 4, "done"),       # both e-rows break id_unique
    ("f", None, "open"),    # null qty: strict -> violation; null_ok -> pass
]


def _df(spark):
    return spark.createDataFrame(ROWS, "id string, qty int, status string")


def _suite(qty_mode="quarantine", null_ok=False):
    return ExpectationSuite(
        rules=[
            Expectation("qty_nonneg", "qty >= 0", mode=qty_mode, null_ok=null_ok),
            Expectation("status_known", "status IN ('open','done')"),
        ],
        unique_rules=[UniqueExpectation("id_unique", ("id",))],
    )


def test_tag_matches_pure_python_reference(spark):
    tagged = {
        (r["id"], r["qty"]): sorted(r["_violated"])
        for r in _suite().tag(_df(spark)).collect()
    }
    # independent reference
    from collections import Counter

    ids = Counter(r[0] for r in ROWS)
    want = {}
    for i, q, s in ROWS:
        v = []
        if not (q is not None and q >= 0):
            v.append("qty_nonneg")
        if s not in ("open", "done"):
            v.append("status_known")
        if ids[i] > 1:
            v.append("id_unique")
        want[(i, q)] = sorted(v)
    assert tagged == want


def test_validate_split_and_metrics(spark):
    passed, quarantined, metrics = _suite().validate(_df(spark))
    assert {r["id"] for r in passed.collect()} == {"a"}
    q = {(r["id"], r["qty"]) for r in quarantined.collect()}
    assert q == {("b", -1), ("c", 7), ("d", 12), ("e", 3), ("e", 4), ("f", None)}
    m = {r["rule"]: (r["n_violations"], r["n_rows"], r["pass_rate"]) for r in metrics.collect()}
    assert m == {
        "qty_nonneg": (2, 7, round(1 - 2 / 7, 6)),
        "status_known": (2, 7, round(1 - 2 / 7, 6)),
        "id_unique": (2, 7, round(1 - 2 / 7, 6)),
    }


def test_null_ok_check_semantics(spark):
    # null_ok=True: NULL qty passes (Delta CHECK posture)
    passed, _, _ = _suite(null_ok=True).validate(_df(spark))
    assert {r["id"] for r in passed.collect()} == {"a", "f"}


def test_drop_mode_rows_in_neither_output(spark):
    passed, quarantined, _ = _suite(qty_mode="drop").validate(_df(spark))
    # b violates only qty_nonneg (drop): not passed, not quarantined
    assert "b" not in {r["id"] for r in passed.collect()}
    assert "b" not in {r["id"] for r in quarantined.collect()}


def test_warn_mode_keeps_rows(spark):
    suite = ExpectationSuite(
        rules=[Expectation("qty_nonneg", "qty >= 0", mode="warn")]
    )
    passed, quarantined, metrics = suite.validate(_df(spark))
    assert passed.count() == len(ROWS)
    assert quarantined.count() == 0
    m = metrics.collect()[0]
    assert (m["rule"], m["n_violations"]) == ("qty_nonneg", 2)


def test_fail_mode_aborts_with_counts(spark):
    suite = ExpectationSuite(
        rules=[Expectation("qty_nonneg", "qty >= 0", mode="fail")]
    )
    with pytest.raises(ValueError, match="qty_nonneg=2"):
        suite.validate(_df(spark))


def test_duplicate_rule_names_rejected(spark):
    with pytest.raises(ValueError, match="duplicate rule names"):
        ExpectationSuite(
            rules=[
                Expectation("r", "qty >= 0"),
                Expectation("r", "qty < 10"),
            ]
        )


def test_checked_merge_routes_and_commits(spark, tmp_path):
    from door2door_etl_spark.io.manifest import ManifestTable

    target = str(tmp_path / "target")
    quarantine = str(tmp_path / "quarantine")
    out = checked_merge(
        spark,
        _suite(),
        _df(spark),
        target_root=target,
        quarantine_root=quarantine,
        key="id",
        batch_id="batch-1",
    )
    assert out["n_quarantined"] == 6
    live = ManifestTable(target).read(spark)
    assert {r["id"] for r in live.collect()} == {"a"}
    qdf = spark.read.parquet(quarantine)
    got = {
        (r["id"], r["_batch_id"], tuple(sorted(r["_quarantined_rules"])))
        for r in qdf.collect()
    }
    assert ("b", "batch-1", ("qty_nonneg",)) in got
    assert ("e", "batch-1", ("id_unique",)) in got
    rates = {m["rule"]: m["pass_rate"] for m in out["metrics"]}
    assert rates["status_known"] == round(1 - 2 / 7, 6)

    # fail-mode invariant: nothing lands, target unchanged
    suite_fail = ExpectationSuite(
        rules=[Expectation("qty_nonneg", "qty >= 0", mode="fail")]
    )
    with pytest.raises(ValueError):
        checked_merge(
            spark, suite_fail, _df(spark), target_root=target,
            quarantine_root=str(tmp_path / "q2"), key="id", batch_id="batch-2",
        )
    assert ManifestTable(target).read(spark).count() == 1


def test_rules_stay_codegen_friendly(spark):
    """Row-local rules must not break whole-stage codegen or filter
    pushdown: the tagged plan over a parquet scan keeps PushedFilters
    for a caller filter applied after tag()."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t")
        _df(spark).write.parquet(p)
        suite = ExpectationSuite(
            rules=[Expectation("qty_nonneg", "qty >= 0")]
        )
        tagged = suite.tag(spark.read.parquet(p)).filter(F.col("id") == "a")
        plan = tagged._jdf.queryExecution().executedPlan().toString()
        # the caller filter reaches the scan THROUGH the tagging projection
        assert "EqualTo(id,a)" in plan, plan
        # scan + filter stage is codegen'd (the tag projection itself uses
        # higher-order array exprs, which run outside codegen by design)
        assert "*(1) Filter" in plan, plan


def test_unique_rule_tags_null_key_duplicates(spark):
    """groupBy treats NULL keys as equal, so duplicated NULL-key rows ARE
    duplicates — the match-back join must be null-safe or they silently
    pass (round-8 advice).  A lone NULL key is NOT a duplicate."""
    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 3), ("a", 4), ("b", 5)],
        "id string, qty int",
    )
    suite = ExpectationSuite(
        unique_rules=[UniqueExpectation("id_unique", ("id",))]
    )
    tagged = {
        r["qty"]: list(r["_violated"]) for r in suite.tag(df).collect()
    }
    assert tagged == {
        1: ["id_unique"],
        2: ["id_unique"],
        3: ["id_unique"],
        4: ["id_unique"],
        5: [],
    }

    lone_null = spark.createDataFrame(
        [(None, 1), ("a", 2)], "id string, qty int"
    )
    assert all(
        r["_violated"] == [] for r in suite.tag(lone_null).collect()
    )

    # composite key: NULLs equal per-column, (NULL,'x') != (NULL,'y')
    comp = spark.createDataFrame(
        [(None, "x", 1), (None, "x", 2), (None, "y", 3)],
        "k1 string, k2 string, qty int",
    )
    suite2 = ExpectationSuite(
        unique_rules=[UniqueExpectation("kk", ("k1", "k2"))]
    )
    got = {r["qty"]: list(r["_violated"]) for r in suite2.tag(comp).collect()}
    assert got == {1: ["kk"], 2: ["kk"], 3: []}


def test_replay_quarantine_after_rule_relaxation(spark, tmp_path):
    """Quarantine lifecycle: checked_merge quarantines violators; after
    the rule is RELAXED, replay_quarantine admits exactly the
    now-passing rows into the target (idempotent MERGE), keeps the
    still-failing rows with refreshed tags, and a second replay is a
    no-op."""
    from door2door_etl_spark.io.manifest import ManifestTable
    from door2door_etl_spark.pipeline.expectations import replay_quarantine

    target = str(tmp_path / "target")
    quar = str(tmp_path / "quar")
    strict = ExpectationSuite(
        rules=[Expectation("qty_min", "qty >= 10")],
        unique_rules=[UniqueExpectation("id_unique", ("id",))],
    )
    batch = spark.createDataFrame(
        [("a", 50), ("b", 7), ("c", 3), ("d", 12), ("d", 12)],
        "id string, qty int",
    )
    out = checked_merge(
        spark, strict, batch, target, quar, key="id", batch_id="b1"
    )
    assert out["n_quarantined"] == 4  # b, c, and both d copies

    def target_ids():
        return sorted(
            r["id"]
            for r in ManifestTable(target).read(spark).collect()
        )

    assert target_ids() == ["a"]

    # relax the threshold (and the dup keys were cleaned upstream —
    # drop the unique rule): b and the d's now pass, c still fails
    relaxed = ExpectationSuite(rules=[Expectation("qty_min", "qty >= 5")])
    rep = replay_quarantine(spark, relaxed, target, quar, key="id")
    assert rep == {
        "n_replayed": 4, "n_admitted": 3, "n_still_quarantined": 1
    }
    assert target_ids() == ["a", "b", "d"]  # d's copies merged to one key
    left = spark.read.parquet(quar).collect()
    assert [(r["id"], list(r["_quarantined_rules"]), r["_batch_id"])
            for r in left] == [("c", ["qty_min"], "b1")]

    # idempotent: a second replay admits nothing, changes nothing
    rep2 = replay_quarantine(spark, relaxed, target, quar, key="id")
    assert rep2 == {
        "n_replayed": 1, "n_admitted": 0, "n_still_quarantined": 1
    }
    assert target_ids() == ["a", "b", "d"]


def test_cli_validate_then_replay_quarantine(spark, tmp_path, capsys):
    """The full CLI lifecycle: `-s validate` quarantines violators on
    the checked upsert; after the rules file is relaxed,
    `-s replay-quarantine` admits the now-passing rows back into the
    warehouse table."""
    import json as _json

    from door2door_etl_spark.__main__ import main
    from door2door_etl_spark.io.manifest import ManifestTable

    batch = spark.createDataFrame(
        [("a", 50), ("b", 7), ("c", 3)], "id string, qty int"
    )
    src = tmp_path / "batch.parquet"
    batch.write.parquet(str(src))
    lake = tmp_path / "lake"
    rules = tmp_path / "rules.json"
    rules.write_text(_json.dumps(
        {"rules": [{"name": "qty_min", "expr": "qty >= 10"}]}
    ))

    rc = main([
        "-s", "validate", "--source", str(src), "--lake-root", str(lake),
        "--table", "items", "--rules", str(rules), "--key", "id",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_quarantined"] == 2

    target = ManifestTable(str(lake / "warehouse" / "items"))
    assert sorted(r["id"] for r in target.read(spark).collect()) == ["a"]

    rules.write_text(_json.dumps(
        {"rules": [{"name": "qty_min", "expr": "qty >= 5"}]}
    ))
    rc = main([
        "-s", "replay-quarantine", "--lake-root", str(lake),
        "--table", "items", "--rules", str(rules), "--key", "id",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["n_admitted"], out["n_still_quarantined"]) == (1, 1)
    assert sorted(r["id"] for r in target.read(spark).collect()) == ["a", "b"]
