import numpy as np
import pytest

from countrymaam_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="countrymaam_spark_tests", shuffle_partitions=8)
    yield s


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
