from __future__ import annotations

import contextlib

import pytest

from deduper_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deduper_spark_tests", master="local[4]", shuffle_partitions=4,
                  driver_memory="6g")
    yield s
    s.stop()


# connected_components takes its single-task finish when the contracted
# forest fits one advisory-sized partition; a 1-byte advisory size never
# fits a non-empty forest, and without partition coalescing the first
# local contraction sees only a slice of the graph.
_STAR_PATH_CONF = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@pytest.fixture
def star_path(spark):
    """Context manager that forces connected_components onto its
    star-round path and restores the session conf afterwards."""

    @contextlib.contextmanager
    def forced():
        saved = {k: spark.conf.get(k) for k in _STAR_PATH_CONF}
        try:
            for k, v in _STAR_PATH_CONF.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    return forced
