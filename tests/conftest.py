import contextlib

import pytest

from door2door_etl_spark.operators import local
from door2door_etl_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="door2door-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={"spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def force_distributed(monkeypatch):
    """Context-manager factory: inside ``with force_distributed():`` the
    small-input gate (``local.rows_if_small``) declines every input, so
    each operator with a driver-local twin takes its distributed path.
    The context value lists the cap of every declined gate call."""

    @contextlib.contextmanager
    def forced():
        caps = []

        def decline(df, cap, n=None):
            caps.append(cap)
            return None

        with monkeypatch.context() as m:
            m.setattr(local, "rows_if_small", decline)
            yield caps

    return forced
