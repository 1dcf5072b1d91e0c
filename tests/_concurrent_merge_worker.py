"""Subprocess worker for the cross-process claim-race test.

Each worker is a SEPARATE driver JVM merging batches into the SAME
table — the put-if-absent manifest claim across processes is the actual
production claim (two Spark drivers on a shared filesystem), which the
in-process race tests cannot exercise.

argv: <table_root> <writer_id> <n_batches>
"""

from __future__ import annotations

import sys


def main() -> int:
    root, writer_id, n_batches = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    sys.path.insert(0, "/root/repo")
    from door2door_etl_spark.io.manifest import merge_manifest
    from door2door_etl_spark.session import build_session

    spark = build_session(
        app_name=f"claim-race-worker-{writer_id}",
        master="local[2]",
        shuffle_partitions=2,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "1g",
        },
    )
    try:
        for i in range(n_batches):
            batch = spark.createDataFrame(
                [(writer_id * 1000 + i, f"w{writer_id}b{i}", f"p{writer_id}")],
                "k int, v string, part string",
            )
            # Default max_retries: the point of the test is that two live
            # writers resolve contention within the default budget.
            merge_manifest(spark, root, batch, key="k", vacuum_keep=99)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
