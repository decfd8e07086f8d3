"""Line-level boilerplate dedup + corpus-unigram rarity: oracle equality,
fixture semantics (the 8 shared filler sentences ARE the boilerplate), both
broadcast regimes, and empty-input totality."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import lines as LN
from countrymaam_spark.operators import rarity as RY
from countrymaam_spark.sources import pages as pg

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _pages_path() -> str:
    return os.path.join(pg.ensure_fixtures("sf0.001"), "pages.parquet")


@pytest.fixture(scope="module")
def pages(spark):
    return spark.read.parquet(_pages_path()).cache()


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _oracle(sql):
    df = duckdb.sql(sql).df()
    return sorted(df[sorted(df.columns)].itertuples(index=False, name=None))


def test_page_line_stats_matches_oracle(spark, pages):
    got = LN.page_line_stats(pages, 10)
    assert _rows(got) == _oracle(LN.page_line_stats_sql(f"'{_pages_path()}'", 10))


def test_clean_pages_matches_oracle(spark, pages):
    got = LN.clean_pages(pages, 10)
    assert _rows(got) == _oracle(LN.clean_pages_sql(f"'{_pages_path()}'", 10))


def test_boiler_set_is_exactly_the_filler_variants(spark, pages):
    """At df >= 10 the boilerplate set is the 16 filler variants (each of the
    8 shared sentences occurs period-stripped in slot A and period-kept in
    final slot B); page-unique segments (ids, 5-dp coords) never qualify."""
    got = {r["line"] for r in LN.boiler_lines(pages, 10).collect()}
    fillers = pg._FILLERS
    want = {f[:-1] for f in fillers} | set(fillers)
    assert got == want


def test_page_stats_fixture_shape(spark, pages):
    """Every fixture page: 4 segments, exactly 2 boilerplate (slots A+B)."""
    st = LN.page_line_stats(pages, 10)
    bad = st.filter((F.col("n_lines") != 4) | (F.col("n_boiler") != 2)).count()
    assert bad == 0
    # boilerplate must never be the whole page
    assert st.filter(F.col("boiler_chars") >= F.col("total_chars")).count() == 0


def test_clean_keeps_unique_segments_in_order(spark, pages):
    """clean_text == segment1 + '. ' + segment3 of the original text."""
    joined = (
        pages.select(
            "url",
            F.concat_ws(
                LN.LINE_SEP,
                LN.split_lines(F.col("text"))[0],
                LN.split_lines(F.col("text"))[2],
            ).alias("want"),
        )
        .join(LN.clean_pages(pages, 10), "url")
        .filter(F.col("want") != F.col("clean_text"))
    )
    assert joined.count() == 0


def test_line_stats_shuffle_regime_identical(spark, pages, shuffle_regime):
    """The forced shuffle regime takes the distributed equi-join; output must
    be bit-identical to the broadcast regime (the gate only changes the
    plan)."""
    a = _rows(LN.page_line_stats(pages, 10))
    with shuffle_regime():
        b = _rows(LN.page_line_stats(pages, 10))
    assert a == b


def test_rarity_matches_oracle(spark):
    got = _rows(RY.doc_rarity(spark.read.parquet(DOCS)))
    assert got == _oracle(RY.doc_rarity_sql(f"'{DOCS}'"))


def test_rarity_exact_weights_on_planted_corpus(spark):
    """Hand-computed integer weights: corpus = 'a a a b' + 'b c'.
    totals: a=3, b=2, c=1, total=6 -> w(a)=2, w(b)=3, w(c)=6."""
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "b c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_toks"], r["sum_w"], r["rarity"])
           for r in RY.doc_rarity(docs).collect()}
    assert got == {1: (4, 9, 2.25), 2: (2, 9, 4.5)}


def test_rarity_shuffle_regime_identical(spark, shuffle_regime):
    docs = spark.read.parquet(DOCS)
    a = _rows(RY.doc_rarity(docs))
    with shuffle_regime():
        assert _rows(RY.doc_rarity(docs)) == a


def test_lines_and_rarity_total_on_empty_input(spark):
    empty_pages = spark.createDataFrame([], "url string, text string")
    assert LN.page_line_stats(empty_pages, 10).count() == 0
    assert LN.clean_pages(empty_pages, 10).count() == 0
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert RY.doc_rarity(empty_docs).count() == 0
