"""Reference-format feature sources: little-endian binary rows (the CLI
train input, cmd/countrymaam/main.go:107-119) and CSV vector corpora
(graph/vec.csv), both loaded into the standard embeddings shape with
stable shard-based ids."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import ann
from countrymaam_spark.sources import features as FS


@pytest.fixture(scope="module")
def cloud():
    rng = np.random.default_rng(11)
    return rng.normal(0, 1, (300, 16))


def test_binary_roundtrip_sharded(spark, cloud, tmp_path):
    """Two shards -> stable ids (shard base + offset), exact float32 values,
    and the loaded corpus serves brute kNN identically to a direct DataFrame."""
    d = tmp_path / "shards"
    d.mkdir()
    FS.write_binary_features(cloud[:180], str(d / "part-000.bin"))
    FS.write_binary_features(cloud[180:], str(d / "part-001.bin"))
    df = FS.load_binary_features(spark, str(d), dim=16, dtype="float32")
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    assert len(rows) == 300
    expect = cloud.astype(np.float32).astype(np.float64)
    for i in (0, 179, 180, 299):
        assert np.array_equal(rows[i], expect[i])
    # serves the engine surface directly
    q = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ann.brute_knn(df, q, k=3).count()
    assert got == 6


def test_binary_u8_dtype(spark, cloud, tmp_path):
    p = tmp_path / "u8.bin"
    data = (np.clip(cloud, -1, 1) * 100 + 110).astype(np.uint8)
    FS.write_binary_features(data, str(p), dtype="uint8")
    df = FS.load_binary_features(spark, str(p), dim=16, dtype="uint8")
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    assert len(rows) == 300
    assert np.array_equal(rows[42], data[42].astype(np.float64))


def test_binary_rejects_torn_file(spark, tmp_path):
    p = tmp_path / "torn.bin"
    p.write_bytes(b"\x00" * 130)  # not a multiple of 16 * 4
    with pytest.raises(ValueError, match="not a multiple"):
        FS.load_binary_features(spark, str(p), dim=16, dtype="float32")


def test_csv_vectors_reference_corpus(spark, vec_csv_200):
    """A 200x128 corpus in the reference's vec.csv format loads into the
    embeddings shape and matches the file's values exactly."""
    df = FS.load_csv_vectors(spark, vec_csv_200, dim=128)
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    assert len(rows) == 200 and all(len(v) == 128 for v in rows.values())
    vals = []
    with open(vec_csv_200) as f:
        for line in f:
            vals.extend(float(t) for t in line.strip().split(",") if t)
    arr = np.array(vals).reshape(-1, 128)
    assert np.array_equal(rows[0], arr[0]) and np.array_equal(rows[199], arr[199])
