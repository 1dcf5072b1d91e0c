"""Declarative data-quality expectations on DataFrames and write paths.

The reference enforces data quality imperatively and implicitly — blank
lines are skipped during staging (``src/etl/handler.py:37-40``), unknown
entity types fall through a dispatch dict, and schema shape is whatever
the pandas ``json_normalize`` produced.  There is no declared, inspectable
contract, and a bad batch is discovered by the downstream failure it
causes.  This module makes the contract explicit, the way lakehouse
engines do (Delta CHECK constraints, DLT expectations, Great
Expectations): a rule set is DATA (name + boolean SQL expression), every
rule is evaluated in ONE pass over the batch, and the caller picks the
enforcement posture per rule.

Design for 100 TB:

* **One scan, no matter how many rules.**  ``validate`` tags each row
  with the array of violated rule names via one ``filter``-free
  projection — rules are plain Catalyst boolean expressions, so they run
  inside whole-stage codegen and fold into the surrounding plan (a
  parquet scan feeding validate still gets its pushed filters).  The
  pass/fail split and the per-rule metrics are derived from the SAME
  tagged frame, so enforcement costs one extra column, not one extra
  scan per rule.
* **Metrics are a tiny aggregate.**  ``metrics`` explodes only the
  violation tags (empty for clean rows) — the shuffle carries one row
  per (rule, partition) after partial aggregation, never per data row.
* **UNIQUE is the one rule that must shuffle.**  Uniqueness over key
  columns is not row-local; it is checked as a window-free self
  aggregation (groupBy count > 1 broadcast back as a semi/anti split
  would re-shuffle, so we use a window-less two-pass: count per key,
  then join the slim duplicate-key relation back — the duplicate side is
  small in healthy data, so Spark broadcasts it).
* **Quarantine, don't abort, at scale.**  A 0.001% bad-row rate in a
  100 TB load is a gigabyte of rows; failing the job strands the other
  99.999%.  ``checked_merge`` lands passing rows in the target and
  quarantines violations with their tags and a batch id, committing
  metrics alongside — the ETL pipeline's unknown-entity quarantine
  (schemas/normalize.py) generalized to arbitrary declared rules.

Enforcement modes per rule: ``"quarantine"`` (default — route violating
rows to the quarantine sink), ``"drop"`` (silently exclude), ``"warn"``
(keep the row, count the violation).  Any rule may instead be marked
``"fail"``: if ANY row violates it the batch raises before the write —
Delta's CHECK-constraint posture for invariants that must never land.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.operators import local

_MODES = ("quarantine", "drop", "warn", "fail")
_TAG = "_violated"


@dataclass(frozen=True)
class Expectation:
    """One named rule: ``expr`` is a boolean SQL expression that must be
    TRUE for a row to pass (NULL counts as a violation, matching SQL
    CHECK's treatment of unknown as not-satisfied... inverted: Delta
    CHECK passes NULL; we default to the stricter DLT posture because
    curation rules are filters, not algebra — pass ``null_ok=True`` for
    CHECK semantics)."""

    name: str
    expr: str
    mode: str = "quarantine"
    null_ok: bool = False

    def __post_init__(self):
        if self.mode not in _MODES:
            raise ValueError(f"mode {self.mode!r} not in {_MODES}")

    def _passes(self):
        c = F.expr(self.expr)
        return c | c.isNull() if self.null_ok else c.eqNullSafe(F.lit(True))


@dataclass(frozen=True)
class UniqueExpectation:
    """Key-uniqueness rule — the one non-row-local expectation.  All rows
    of a key that appears more than once violate (both copies are suspect;
    dedup-by-key is a *transformation*, not a validation — use
    operators.dedup for keep-one semantics)."""

    name: str
    key_cols: tuple[str, ...]
    mode: str = "quarantine"

    def __post_init__(self):
        if self.mode not in _MODES:
            raise ValueError(f"mode {self.mode!r} not in {_MODES}")


@dataclass(frozen=True)
class ExpectationSuite:
    rules: list[Expectation] = field(default_factory=list)
    unique_rules: list[UniqueExpectation] = field(default_factory=list)

    def __post_init__(self):
        names = [r.name for r in self.rules] + [r.name for r in self.unique_rules]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(f"duplicate rule names: {sorted(dupes)}")

    def _all(self):
        return [*self.rules, *self.unique_rules]

    # -- evaluation ---------------------------------------------------------
    def tag(self, df: DataFrame) -> DataFrame:
        """The single-pass evaluator: input plus ``_violated:
        array<string>`` of the rule names each row breaks (empty array =
        clean row).  Row-local rules are one codegen'd projection; each
        unique rule adds one count-per-key aggregation joined back on the
        key.  The duplicate-key relation is deliberately NOT hint-forced
        to broadcast: uniqueness rules exist precisely for batches where
        the key ISN'T unique, and a badly-violating batch (a replayed
        upstream feed doubling every key) makes ``dup_keys`` O(distinct
        keys) — an unconditional hint would override AQE's size check and
        materialize it on the driver.  AQE's runtime statistics convert
        the join to broadcast exactly when the measured duplicate set is
        small (the healthy case), at zero extra cost."""
        tags = [
            F.when(~r._passes(), F.lit(r.name)) for r in self.rules
        ]
        out = df
        for u in self.unique_rules:
            dup_keys = (
                df.groupBy(*u.key_cols)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .select(*u.key_cols, F.lit(True).alias(f"_dup_{u.name}"))
            )
            # eqNullSafe per key column: groupBy treats NULL keys as equal
            # (so NULL-key duplicates DO land in dup_keys), and a
            # null-unsafe equi-join could never match them back — rows
            # with duplicated NULL keys would silently pass the rule.
            left, right = out.alias("_uq_l"), dup_keys.alias("_uq_r")
            cond = F.lit(True)
            for c in u.key_cols:
                cond = cond & F.col(f"_uq_l.{c}").eqNullSafe(
                    F.col(f"_uq_r.{c}")
                )
            out = left.join(right, cond, "left").select(
                "_uq_l.*", f"_uq_r._dup_{u.name}"
            )
            tags.append(
                F.when(F.col(f"_dup_{u.name}"), F.lit(u.name))
            )
        tagged = out.withColumn(
            _TAG,
            F.array_compact(F.array(*tags))
            if tags
            else F.array().cast("array<string>"),
        )
        # restore the caller's column order (the unique-rule joins move
        # key columns to the front)
        return tagged.select(*df.columns, _TAG)

    def validate(
        self, df: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """``(passed, quarantined, metrics)`` from one tagged frame.

        ``passed``: rows violating nothing enforced (warn-only tags are
        carried through in ``_violated`` for observability, then the
        column is dropped).  ``quarantined``: rows with at least one
        quarantine-mode violation, tags kept.  Drop-mode rows appear in
        neither.  ``metrics``: one row per rule — violations, evaluated
        row count, pass rate — plus the ``_batch`` totals row.  Raises
        on any fail-mode violation (count surfaces in the message)."""
        return self.validate_tagged(self.tag(df))

    def validate_tagged(
        self, tagged: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """``validate`` split so callers that run MULTIPLE actions over
        the result (count + write + metrics, as ``checked_merge`` does)
        can persist the tagged frame ONCE first — otherwise each action
        re-evaluates the whole tag pipeline including the unique-rule
        aggregation joins."""
        enforced = {
            r.name: r.mode for r in self._all()
        }
        fail_rules = [n for n, m in enforced.items() if m == "fail"]
        if fail_rules:
            broken = (
                tagged.select(F.explode(_TAG).alias("rule"))
                .filter(F.col("rule").isin(fail_rules))
                .groupBy("rule")
                .count()
                .collect()
            )
            if broken:
                detail = ", ".join(f"{r['rule']}={r['count']}" for r in broken)
                raise ValueError(f"fail-mode expectation violated: {detail}")

        def _hits(names: list[str]):
            if not names:
                return F.lit(False)
            return F.exists(F.col(_TAG), lambda n: n.isin(names))

        blocking = [n for n, m in enforced.items() if m in ("quarantine", "drop")]
        passed = tagged.filter(~_hits(blocking)).drop(_TAG)
        quarantine_rules = [n for n, m in enforced.items() if m == "quarantine"]
        quarantined = tagged.filter(_hits(quarantine_rules))
        return passed, quarantined, self.metrics(tagged)

    def metrics(self, tagged: DataFrame) -> DataFrame:
        """Per-rule violation counts off an already-tagged frame: one
        slim aggregate (explode only the tags), one total-rows scalar
        from the same frame — columns ``rule, mode, n_violations,
        n_rows, pass_rate``."""
        totals = tagged.agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        per_rule = (
            tagged.select(F.explode(_TAG).alias("rule"))
            .groupBy("rule")
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )
        modes = [(r.name, r.mode) for r in self._all()]
        spark = tagged.sparkSession
        declared = local.frame(spark, modes, "rule string, mode string")
        return (
            declared.join(per_rule, "rule", "left")
            .crossJoin(F.broadcast(totals))
            .select(
                "rule",
                "mode",
                F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
                "n_rows",
                F.when(
                    F.col("n_rows") > 0,
                    F.round(
                        1.0
                        - F.coalesce("n_violations", F.lit(0))
                        / F.col("n_rows"),
                        6,
                    ),
                ).otherwise(F.lit(1.0)).alias("pass_rate"),
            )
        )


def checked_merge(
    spark: SparkSession,
    suite: ExpectationSuite,
    batch: DataFrame,
    target_root: str,
    quarantine_root: str,
    key: str,
    batch_id: str,
) -> dict:
    """Constraint-checked upsert: passing rows MERGE into the versioned
    target, quarantine-mode violations land (append) in the quarantine
    table with their rule tags and the batch id, and the per-rule metrics
    come back as driver data (bounded: one row per rule).  Fail-mode
    violations abort BEFORE any write — the target never sees a batch
    that breaks an invariant."""
    from door2door_etl_spark.io.manifest import merge_manifest

    # The tagged frame feeds four actions (fail check, quarantine count,
    # quarantine write, metrics, plus the MERGE of passing rows) — persist
    # it once so the tag pipeline (incl. the unique-rule aggregation
    # joins) evaluates a single time, not per action.
    tagged = suite.tag(batch).persist()
    try:
        passed, quarantined, metrics = suite.validate_tagged(tagged)
        n_quarantined = 0
        bad = quarantined.withColumn(
            "_batch_id", F.lit(batch_id)
        ).withColumn("_quarantined_rules", F.col(_TAG)).drop(_TAG)
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("append").parquet(quarantine_root)
            n_quarantined = n_bad
        merge_manifest(spark, target_root, passed, key=key)
        return {
            "batch_id": batch_id,
            "n_quarantined": n_quarantined,
            "metrics": [r.asDict() for r in metrics.collect()],
        }
    finally:
        tagged.unpersist()


def replay_quarantine(
    spark: SparkSession,
    suite: ExpectationSuite,
    target_root: str,
    quarantine_root: str,
    key: str,
) -> dict:
    """The quarantine's way OUT: re-validate every quarantined row under
    the (presumably fixed/relaxed) ``suite``, MERGE the now-passing rows
    into the versioned target, and rewrite the quarantine to hold only
    the still-failing rows (their tags refreshed to the CURRENT rule
    set; original ``_batch_id`` provenance kept).

    Exactly-once posture: admission is a key-MERGE (idempotent upsert —
    a replayed admit converges to the same row), and admitted rows leave
    the quarantine, so a re-run admits nothing and changes nothing.  A
    crash between the merge and the quarantine rewrite re-admits the
    same rows on the next replay — same idempotent MERGE, then the
    rewrite completes: convergent, never duplicated.  Rows failing a
    ``drop``-mode rule on replay are discarded (drop semantics), and a
    ``fail``-mode violation aborts before any write, exactly as in
    :func:`checked_merge`.

    Returns ``{n_replayed, n_admitted, n_still_quarantined}``.
    """
    import os

    from door2door_etl_spark.io.manifest import merge_manifest

    if not os.path.isdir(quarantine_root):
        return {"n_replayed": 0, "n_admitted": 0, "n_still_quarantined": 0}
    q = spark.read.parquet(quarantine_root)
    # tag() carries every input column through — the provenance columns
    # ride along untouched (rules never reference them)
    tagged = suite.tag(q.drop("_quarantined_rules")).persist()
    try:
        passed, still_bad, _metrics = suite.validate_tagged(tagged)
        n_replayed = tagged.count()
        n_admitted = passed.count()
        if n_admitted:
            merge_manifest(
                spark, target_root, passed.drop("_batch_id"), key=key
            )
        survivors = (
            still_bad.withColumn("_quarantined_rules", F.col(_TAG))
            .drop(_TAG)
            .select(*q.columns)
            # materialize BEFORE overwriting the directory being read
            .localCheckpoint(eager=True)
        )
        n_survivors = survivors.count()
        survivors.write.mode("overwrite").parquet(quarantine_root)
        return {
            "n_replayed": n_replayed,
            "n_admitted": n_admitted,
            "n_still_quarantined": n_survivors,
        }
    finally:
        tagged.unpersist()
