"""Eval-set decontamination: oracle equality, planted-overlap semantics,
interval-union coverage, both broadcast regimes, empty-set totality."""

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import decontam as DC

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


@pytest.fixture(scope="module")
def evals(docs):
    return docs.filter(F.col("doc_id") % 13 == 0)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(row[c] for c in cols) for row in df.collect())


def _oracle(sql):
    df = duckdb.sql(sql).df()
    return sorted(df[sorted(df.columns)].itertuples(index=False, name=None))


EREL = f"(SELECT * FROM read_parquet('{DOCS}') WHERE doc_id % 13 = 0)"


def test_contamination_stats_matches_oracle(spark, docs, evals):
    got = _rows(DC.contamination_stats(docs, evals, L=8, eval_id_col="doc_id"))
    assert got == _oracle(DC.contamination_stats_sql(f"read_parquet('{DOCS}')", EREL, L=8))


def test_decontaminate_matches_oracle(spark, docs, evals):
    got = _rows(DC.decontaminate(docs, evals, L=8, max_frac=0.0, eval_id_col="doc_id"))
    assert got == _oracle(DC.decontaminate_sql(f"read_parquet('{DOCS}')", EREL, L=8, max_frac=0.0))


def test_eval_docs_are_fully_covered(spark, docs, evals):
    """A document that IS an eval document shares every gram -> frac 1.0."""
    st = DC.contamination_stats(docs, evals, L=8, eval_id_col="doc_id")
    ev = st.filter(F.col("doc_id") % 13 == 0)
    assert ev.filter(F.col("contam_frac") != 1.0).count() == 0
    # and they are all dropped by the strict rule
    clean = DC.decontaminate(docs, evals, L=8, max_frac=0.0, eval_id_col="doc_id")
    assert clean.filter(F.col("doc_id") % 13 == 0).count() == 0


def test_planted_overlap_and_interval_union(spark):
    """eval gram 'a b c d' (L=4) appears in doc 1 at starts 0 and 4 (union
    covers all 8 tokens) and nowhere in doc 2."""
    docs = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "x y z w v u t s")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(9, "q q a b c d q")], "eval_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["hit_grams"], r["covered_tokens"], r["contam_frac"])
           for r in DC.contamination_stats(docs, evals, L=4).collect()}
    # doc 1: grams at p=0 'a b c d', p=4 'a b c d' hit; p=1..3 rolling grams
    # ('b c d a', ...) are not in the eval set. union [0..3]+[4..7] = 8 tokens
    assert got[1] == (5, 2, 8, 1.0)
    assert got[2] == (5, 0, 0, 0.0)


def test_shuffle_regime_identical(spark, docs, evals, shuffle_regime):
    a = _rows(DC.contamination_stats(docs, evals, L=8, eval_id_col="doc_id"))
    with shuffle_regime():
        b = _rows(DC.contamination_stats(docs, evals, L=8, eval_id_col="doc_id"))
    assert a == b


def test_empty_eval_set_keeps_everything(spark, docs):
    empty = spark.createDataFrame([], "eval_id long, text string")
    st = DC.contamination_stats(docs, empty, L=8, eval_id_col="eval_id")
    assert st.filter(F.col("hit_grams") != 0).count() == 0
    assert st.count() == docs.count()
    assert DC.decontaminate(docs, empty, L=8).count() == docs.count()


def test_empty_corpus_total(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    evals = spark.createDataFrame([(1, "a b c d e f g h")], "eval_id long, text string")
    assert DC.contamination_stats(empty, evals, L=8).count() == 0


def test_contamination_intervals_merge(spark):
    """Hit grams at starts 0 and 4 (gap 4 <= L=4) merge into one interval
    [0, 7]; an isolated hit far away forms its own interval."""
    docs = spark.createDataFrame(
        [(1, "a b c d a b c d x x x x x x a b c d")], "doc_id long, text string"
    )
    evals = spark.createDataFrame([(9, "a b c d")], "eval_id long, text string")
    got = sorted(
        (r["span_start"], r["span_end"], r["n_grams"])
        for r in DC.contamination_intervals(docs, evals, L=4).collect()
    )
    assert got == [(0, 7, 2), (14, 17, 1)]


def test_contamination_intervals_match_oracle(spark, docs, evals):
    got = _rows(DC.contamination_intervals(docs, evals, L=8, eval_id_col="doc_id"))
    assert got == _oracle(
        DC.contamination_intervals_sql(f"read_parquet('{DOCS}')", EREL, L=8)
    )
