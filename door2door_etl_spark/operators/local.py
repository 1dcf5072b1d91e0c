"""Small-input completion gate shared by the driver-local twins.

Each iterative operator with a driver-local twin (the graph family,
near-dup components, coverage-max, power iteration, MMR) builds its
data-sized relation in Spark and then asks ONE question here: is that
relation small enough to finish on the driver?  The caps below are the
only place an input size is compared against a local-completion bound.

Call :func:`rows_if_small` through this module's attribute
(``local.rows_if_small``) so a test or tool can replace it with a fake
that returns ``None`` and forces every operator onto its distributed
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

# Relation rows (edges, incidence rows): ~12 MB on the driver.
MAX_ROWS = 500_000
# Rank vector nodes for the PageRank / PPR twins.
MAX_RANK_NODES = 4_096
# Corpus rows for the power-iteration twin (64 k x dim 64 ~ 33 MB).
MAX_POWER_ITERATION_ROWS = 65_536
# MMR candidate pool (driver-bounded by construction: ``limit(pool)``).
MAX_MMR_POOL = 100_000


def rows_if_small(
    df: DataFrame, cap: int, n: int | None = None
) -> list[Row] | None:
    """``df``'s rows when it has at most ``cap`` of them, else ``None``.

    With ``n`` (a row count the caller already holds, e.g. an
    ``observe()``-d count off a checkpoint job) the decision costs no
    Spark job and only a small ``df`` is collected.  Without it, one
    bounded ``limit(cap + 1).collect()`` decides and collects at once,
    so at most ``cap + 1`` rows ever reach the driver.
    """
    if n is not None:
        return None if n > cap else df.collect()
    rows = df.limit(cap + 1).collect()
    return None if len(rows) > cap else rows
