import contextlib

import pytest

from rsgislib_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]",
                  **{"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture
def no_broadcast(spark):
    """A context manager that sets both broadcast thresholds (planning
    and AQE) to -1, so Spark shuffles every join it plans or re-plans
    inside it, and restores them on exit."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")

    @contextlib.contextmanager
    def ctx():
        old = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, "-1")
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return ctx
