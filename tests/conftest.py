from contextlib import contextmanager

import numpy as np
import pytest

from countrymaam_spark.operators import adaptive
from countrymaam_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="countrymaam_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def no_auto_broadcast(spark):
    """Disable stats-based auto-broadcast for one test, so a plan string
    reflects only the explicit gate decisions."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, prev)


@pytest.fixture
def shuffle_regime(monkeypatch):
    """``with shuffle_regime():`` forces every estimate gate into its
    shuffle regime by setting ``adaptive.BROADCAST_STRUCT_LIMIT`` to 0.
    Operators read the constant when called, so build (and, for an operator
    that materializes while it runs, collect) inside the block."""

    @contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(adaptive, "BROADCAST_STRUCT_LIMIT", 0)
            yield

    return forced


@pytest.fixture(scope="session")
def vec_csv_200(tmp_path_factory):
    """Path to a fixed-seed 200x128 corpus of uniform [0, 1) floats written
    as comma-separated rows: the shape and format of the reference's
    graph/vec.csv, which its NN-Descent golden is computed on."""
    arr = np.random.default_rng(0).random((200, 128))
    path = tmp_path_factory.mktemp("vec") / "vec.csv"
    np.savetxt(path, arr, fmt="%.6f", delimiter=",")
    return str(path)


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
