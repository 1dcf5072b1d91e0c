"""Parity reference for the maintained views: a view's definition
evaluated from scratch over its sources' CURRENT snapshots, which the
incrementally maintained state must equal."""

from door2door_etl_spark.io.manifest import ManifestTable
from door2door_etl_spark.pipeline.aggview import IncrementalAggView


def _current(spark, root):
    return ManifestTable(root).read(spark)


def full_recompute(spark, view):
    """The aggregate (``IncrementalAggView``) or the join
    (``IncrementalJoinView``) recomputed from the current sources."""
    if isinstance(view, IncrementalAggView):
        return view._agg(_current(spark, view.source_root))
    return view._joined(
        _current(spark, view.left_root), _current(spark, view.right_root)
    ).drop("_live")
