"""Dedup family: exact groups, inverted-index n-gram Jaccard vs DuckDB,
MinHash-LSH and SimHash banding on planted near-dups."""

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import adaptive, dedup

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


@pytest.fixture(scope="module")
def planted(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
    other = "completely different content about databases and distributed query engines"
    rows = [(1, base), (2, base), (3, near), (4, other), (5, "x")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(spark, planted):
    got = {(r["doc_id"], r["canonical_id"], r["group_size"]) for r in dedup.exact_dup_groups(planted).collect()}
    assert got == {(1, 1, 2), (2, 1, 2)}


def test_exact_dup_groups_matches_oracle(spark, docs):
    got = {tuple(r) for r in dedup.exact_dup_groups(docs).collect()}
    want = set(duckdb.sql(dedup.exact_dup_groups_sql(f"'{DOCS}'")).fetchall())
    assert got == want  # documents are all-unique -> both empty


def test_ngram_jaccard_matches_oracle(spark, docs):
    got = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, tau=0.05).collect()}
    want = set(duckdb.sql(dedup.ngram_jaccard_pairs_sql(f"'{DOCS}'", tau=0.05)).fetchall())
    assert got == want
    assert len(got) > 0  # random-word docs do share some 3-grams


def test_ngram_jaccard_planted(spark, planted):
    got = dedup.ngram_jaccard_pairs(planted, tau=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs and (2, 3) in pairs  # one-word diff
    assert all(4 not in p and 5 not in p for p in pairs)
    jac = {(r["id_a"], r["id_b"]): r["jac"] for r in got}
    assert jac[(1, 2)] == 1.0


def test_minhash_lsh_finds_planted(spark, planted):
    got = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(planted, tau=0.5).collect()}
    assert (1, 2) in got and (1, 3) in got


def test_minhash_lsh_matches_exact_at_high_tau(spark, docs):
    """At tau=0.8 LSH recall is ~1 (and exact verification kills false
    positives), so LSH output == exact inverted-index output."""
    lsh = {tuple(r) for r in dedup.minhash_lsh_pairs(docs, tau=0.8).collect()}
    exact = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, tau=0.8).collect()}
    assert lsh == exact


def test_simhash_near_pairs_planted(spark, planted):
    got = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_pairs(planted, max_hamming=6).collect()}
    assert (1, 2) in got  # identical -> hamming 0
    assert all(5 not in p for p in got)


def test_simhash_docs_matches_oracle(spark, docs):
    got = dict(dedup.simhash_docs(docs).collect())
    want = dict(duckdb.sql(dedup.simhash_docs_sql(f"'{DOCS}'")).fetchall())
    assert got == want


def test_ngram_jaccard_cap_matches_capped_oracle(spark):
    """Regression (advisor r2): the max_shingle_freq cap must be mirrored in
    the SQL oracle. On a corpus with a shingle above the cap, engine and
    capped oracle agree with each other (and both differ from the uncapped
    exact answer only via pairs whose EVERY shared shingle is ubiquitous)."""
    common = "alpha beta gamma"  # one shingle shared by every doc
    rows = [(i, f"{common} doc{i} unique{i} token{i} filler{i}") for i in range(6)]
    # docs 10/11: near-dups sharing rare shingles too
    rows += [(10, f"{common} same same same tail one"), (11, f"{common} same same same tail two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile, os
    d = tempfile.mkdtemp()
    p = os.path.join(d, "docs.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    rel = f"(SELECT * FROM parquet_scan('{p}/*.parquet'))"
    for cap in (3, None):
        got = {tuple(r) for r in dedup.ngram_jaccard_pairs(
            df, tau=0.05, max_shingle_freq=cap).collect()}
        want = set(duckdb.sql(dedup.ngram_jaccard_pairs_sql(
            rel, tau=0.05, max_shingle_freq=cap)).fetchall())
        assert got == want
    # the cap actually bites on this fixture (capped != uncapped)
    capped = {tuple(r) for r in dedup.ngram_jaccard_pairs(df, tau=0.05, max_shingle_freq=3).collect()}
    uncapped = {tuple(r) for r in dedup.ngram_jaccard_pairs(df, tau=0.05, max_shingle_freq=None).collect()}
    assert capped != uncapped


def test_dup_components_planted_chain(spark):
    """Min-label propagation: a pair CHAIN (1-2, 2-3) collapses into one
    component via transitivity; untouched docs stay their own canonical."""
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(1, 6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2, 0.9), (2, 3, 0.85)], "id_a long, id_b long, jac double")
    got = dict(dedup.dup_components(docs, pairs).collect())
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_dup_components_matches_recursive_oracle(spark, docs):
    got = dict(dedup.dup_components(docs, dedup.minhash_lsh_pairs(docs, tau=0.8)).collect())
    sql = dedup.dup_components_sql(
        f"'{DOCS}'", dedup.ngram_jaccard_pairs_sql(f"'{DOCS}'", tau=0.8, max_shingle_freq=None)
    )
    want = dict(duckdb.sql(sql).fetchall())
    assert got == want
    assert any(k != v for k, v in got.items())  # at least one real merge


def test_curate_docs_planted(spark):
    """End-to-end curation: the German doc is language-filtered, the tiny doc
    falls below the quality floor, and only the canonical (min-id) survivor
    of the near-dup pair is kept."""
    base = (
        "this is a long document that contains many of the common english "
        "words and it is written for the quality scorer with plenty of "
        "ordinary text in it so that the score is comfortably high today"
    )
    rows = [
        (1, base + " one"),
        (2, base + " two"),  # near-dup of 1 -> same component, 1 survives
        (3, "das ist ein langer deutscher text der die worte mit der sprache "
            "verbindet und ist nicht englisch der die das ein ist mit und"),
        (4, "x"),  # too short / no stopwords -> low quality
        (5, "completely different english text that is about databases and "
            "query engines and is of a reasonable length for the scorer to "
            "accept it as high quality content in the corpus today as well"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup.curate_docs(
        docs, langs=("en",), min_quality=0.3, tau=0.5).collect()}
    assert kept == {1, 5}


def test_dup_components_random_graphs_match_union_find(spark):
    """Property: on seeded random pair graphs, min-label propagation equals
    a pure-Python union-find with min-id canonicals (3 graphs, one Spark
    session round-trip each)."""
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = 30
        edges = sorted({
            tuple(sorted(rng.sample(range(1, n + 1), 2))) for _ in range(rng.randint(5, 25))
        })
        parent = list(range(n + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(1, n + 1)}
        docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, n + 1)], "doc_id long, text string")
        pairs = spark.createDataFrame(
            [(a, b, 1.0) for a, b in edges] or [(1, 1, 1.0)],
            "id_a long, id_b long, jac double",
        )
        if not edges:
            pairs = pairs.filter("id_a <> id_b")
        got = dict(dedup.dup_components(docs, pairs).collect())
        assert got == want, (seed, edges)


def test_dup_components_long_chain_converges_logarithmically(spark):
    """Round-3 verdict #6: a planted 50-link chain (diameter 50 — templated
    page series) must converge well inside O(log n) star rounds, where the
    old min-label propagation needed 50 diameter rounds and silently
    truncated at max_iter=20."""
    n = 51
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, n + 1)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, n)], "id_a long, id_b long, jac double"
    )
    got = dict(dedup.dup_components(docs, pairs, max_iter=12).collect())
    assert got == {i: 1 for i in range(1, n + 1)}


def test_dup_components_raises_on_truncation(spark, monkeypatch):
    """The advisor's silent-truncation hazard: exhausting max_iter raises
    instead of returning partially-merged canonical ids."""
    import pytest as _pytest

    docs = spark.createDataFrame([(i, "x") for i in range(1, 5)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0)], "id_a long, id_b long, jac double")
    # an edge limit of 0 pins the DISTRIBUTED loop (the truncation
    # contract's subject; small graphs otherwise take the exact union-find
    # gate, which has no rounds to exhaust)
    monkeypatch.setattr(adaptive, "DRIVER_GRAPH_EDGE_LIMIT", 0)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_components(docs, pairs, max_iter=0)


def test_components_minlabel_sql_long_chain_and_random_graphs():
    """The minlabel ORACLE's own convergence guarantee (DuckDB-only, no
    Spark): a 300-link chain has diameter 300 ≫ the 18 unrolled rounds, so
    only the pointer-doubling step can converge it — plain propagation
    would emit conflicting-duplicate poison rows. Also: equals the
    recursive-closure oracle on seeded random graphs (the two independent
    SQL formulations agree), and actually DOES poison (duplicate node ids)
    when the unroll is forced too short."""
    import random

    def run(nodes, edges, rounds=18):
        vals = ", ".join(f"({i},)" for i in nodes)
        nrel = f"(SELECT * FROM (VALUES {vals}) t(doc_id))"
        pvals = ", ".join(f"({a}, {b})" for a, b in edges)
        psql = f"SELECT * FROM (VALUES {pvals}) p(id_a, id_b)"
        return sorted(duckdb.sql(
            dedup.components_minlabel_sql(nrel, psql, rounds=rounds)
        ).fetchall())

    chain_nodes = list(range(1, 302))
    chain_edges = [(i, i + 1) for i in range(1, 301)]
    assert run(chain_nodes, chain_edges) == [(i, 1) for i in chain_nodes]
    # forced-short unroll on the same chain must poison, not truncate
    short = run(chain_nodes, chain_edges, rounds=2)
    assert len(short) > len(chain_nodes)  # duplicate-id conflict rows
    assert len({n for n, _ in short}) == len(chain_nodes)

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        nodes = list(range(1, 31))
        edges = sorted({
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(rng.randint(5, 25))
        })
        vals = ", ".join(f"({i},)" for i in nodes)
        nrel = f"(SELECT * FROM (VALUES {vals}) t(doc_id))"
        pvals = ", ".join(f"({a}, {b})" for a, b in edges)
        psql = f"SELECT * FROM (VALUES {pvals}) p(id_a, id_b)"
        want = sorted(duckdb.sql(
            dedup.dup_components_sql(nrel, psql)
        ).fetchall())
        assert run(nodes, edges) == want, (seed, edges)


# --- span-level dedup (duplicated L-gram coverage, Lee et al. 2021 shape) ---


@pytest.fixture(scope="module")
def span_docs(spark):
    """Planted span duplication, token sets disjoint across groups so only
    the intended grams collide: docs 1/2 share a 4-token boilerplate, doc 3
    self-repeats a span (two islands, gap > L), doc 4 is unique, doc 5 is
    shorter than L, docs 6/7 share a 5-token span (two OVERLAPPING duplicated
    4-grams that must merge into one interval)."""
    rows = [
        (1, "one two alpha beta gamma delta three"),
        (2, "alpha beta gamma delta nine ten"),
        (3, "p q r s x p q r s"),
        (4, "unique words only here today"),
        (5, "tiny doc"),
        (6, "aa k1 k2 k3 k4 k5 bb"),
        (7, "k1 k2 k3 k4 k5 cc dd"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_span_stats_planted(spark, span_docs):
    """Hand-computed coverage at L=4: interval-union identity, self-repeat
    counting, zero rows for unique/short docs, overlap accumulation."""
    got = {
        r["doc_id"]: (r["n_tok"], r["n_grams"], r["dup_grams"], r["covered_tokens"], r["dup_frac"])
        for r in dedup.dup_span_stats(span_docs, L=4).collect()
    }
    assert got == {
        1: (7, 4, 1, 4, 0.5714),
        2: (6, 3, 1, 4, 0.6667),
        3: (9, 6, 2, 8, 0.8889),   # starts {0,5}, gap 5 > L: 4 + 4 covered
        4: (5, 2, 0, 0, 0.0),
        5: (2, 0, 0, 0, 0.0),      # shorter than L: zero grams, still a row
        6: (7, 4, 2, 5, 0.7143),   # starts {1,2} overlap: min(4,1) + 4 = 5
        7: (7, 4, 2, 5, 0.7143),
    }


def test_dup_span_intervals_planted(spark, span_docs):
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
        for r in dedup.dup_span_intervals(span_docs, L=4).collect()
    }
    assert got == {
        (1, 2, 5, 1),
        (2, 0, 3, 1),
        (3, 0, 3, 1), (3, 5, 8, 1),  # self-repeat: two islands
        (6, 1, 5, 2),                # overlapping grams merged
        (7, 0, 4, 2),
    }


def test_dup_span_stats_matches_oracle(spark, docs):
    got = {tuple(r) for r in dedup.dup_span_stats(docs, L=8).collect()}
    want = set(duckdb.sql(dedup.dup_span_stats_sql(f"'{DOCS}'", L=8)).fetchall())
    assert got == want
    assert any(r[3] > 0 for r in got)  # fixture docs do share some 8-grams


def test_dup_span_intervals_matches_oracle(spark, docs):
    got = {tuple(r) for r in dedup.dup_span_intervals(docs, L=8).collect()}
    want = set(duckdb.sql(dedup.dup_span_intervals_sql(f"'{DOCS}'", L=8)).fetchall())
    assert got == want


def test_dup_span_coverage_equals_interval_lengths(spark, docs):
    """Cross-consistency: the stats path's interval-union arithmetic must
    equal the materialized merged intervals' total length, doc by doc."""
    stats = {r["doc_id"]: r["covered_tokens"] for r in dedup.dup_span_stats(docs, L=8).collect()}
    iv = dedup.dup_span_intervals(docs, L=8).collect()
    from collections import defaultdict

    total = defaultdict(int)
    for r in iv:
        total[r["doc_id"]] += r["span_end"] - r["span_start"] + 1
    for did, cov in stats.items():
        assert cov == total.get(did, 0)


# --- within-doc repetition stats (Gopher-rules quality-filter shape) ---


def test_doc_repetition_stats_planted(spark):
    rows = [
        (1, "a a a a b"),          # top word 4/5, distinct 2/5, top bigram "a a" 3/4
        (2, "w x y z"),            # all unique: 1/4, 4/4, 1/3
        (3, ""),                   # empty: zeros
        (4, "solo"),               # one token: no bigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["distinct_frac"], r["top_word_frac"], r["top_bigram_frac"])
        for r in dedup.doc_repetition_stats(docs).collect()
    }
    assert got == {
        1: (5, 0.4, 0.8, 0.75),
        2: (4, 1.0, 0.25, 0.3333),
        3: (0, 0.0, 0.0, 0.0),
        4: (1, 1.0, 1.0, 0.0),
    }


def test_doc_repetition_stats_matches_oracle(spark, docs):
    got = {tuple(r) for r in dedup.doc_repetition_stats(docs).collect()}
    want = set(duckdb.sql(dedup.doc_repetition_stats_sql(f"'{DOCS}'")).fetchall())
    assert got == want


def test_dup_span_stats_random_brute_force(spark):
    """Seeded-random property check of the interval-union identity: tiny
    alphabet -> dense gram collisions and heavy interval merging; coverage
    must equal the brute-force union of [p, p+L-1] sets, doc by doc."""
    import random
    from collections import Counter

    rng = random.Random(7)
    vocab = ["ax", "bx", "cx", "dx", "ex", "fx"]
    L = 3
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20)))
        for i in range(40)
    }
    grams: Counter = Counter()
    toks = {i: t.split() for i, t in texts.items()}
    for tk in toks.values():
        for p in range(len(tk) - L + 1):
            grams[tuple(tk[p : p + L])] += 1
    want = {}
    for i, tk in toks.items():
        n = len(tk)
        starts = [p for p in range(n - L + 1) if grams[tuple(tk[p : p + L])] >= 2]
        covered: set = set()
        for p in starts:
            covered.update(range(p, p + L))
        want[i] = (n, max(n - L + 1, 0), len(starts), len(covered))

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["n_grams"], r["dup_grams"], r["covered_tokens"])
        for r in dedup.dup_span_stats(docs, L=L).collect()
    }
    assert got == want


def test_span_and_repetition_total_on_empty_input(spark):
    """Totality: zero-row input (e.g. everything filtered upstream) yields
    zero-row output from every new doc operator — no div-by-zero, no
    getNumPartitions surprises on empty plans."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.dup_span_stats(empty, L=8).count() == 0
    assert dedup.dup_span_intervals(empty, L=8).count() == 0
    assert dedup.doc_repetition_stats(empty).count() == 0


def test_dup_span_stats_volume_parity(spark, tmp_path):
    """Volume parity: 20k synthetic docs (32 shared boilerplate templates ->
    every doc carries duplicated spans) match the DuckDB oracle bit-for-bit.
    A 100k-doc run of the same check passed during round 4 (6M grams)."""
    tpl = F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(32))
    boiler = F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda i: F.concat(F.lit("b"), F.pmod(F.xxhash64(tpl * F.lit(16) + i), F.lit(500)).cast("string")),
    )
    body = F.transform(
        F.sequence(F.lit(0), F.lit(49)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id") * F.lit(64) + i), F.lit(5000)).cast("string")),
    )
    path = str(tmp_path / "vol_docs.parquet")
    (
        spark.range(20000)
        .select(F.col("id").alias("doc_id"), F.concat_ws(" ", F.concat(boiler, body)).alias("text"))
        .write.mode("overwrite")
        .parquet(path)
    )
    sp = {tuple(r) for r in dedup.dup_span_stats(spark.read.parquet(path), L=8).collect()}
    du = set(duckdb.sql(dedup.dup_span_stats_sql(f"'{path}/*.parquet'", L=8)).fetchall())
    assert sp == du
    assert len(sp) == 20000 and all(r[3] > 0 for r in sp)  # boilerplate dups everywhere


def test_curate_docs_span_cap(spark, docs):
    """The max_dup_frac cap composes: capped output is a subset of the
    uncapped keep-list, every high-coverage doc is gone, and the composed
    DuckDB oracle matches exactly."""
    uncapped = {r["doc_id"] for r in dedup.curate_docs(docs, langs=("en",), tau=0.8).collect()}
    capped_rows = dedup.curate_docs(docs, langs=("en",), tau=0.8, max_dup_frac=0.5).collect()
    capped = {r["doc_id"] for r in capped_rows}
    assert capped < uncapped  # strictly smaller on this fixture
    high = {
        r["doc_id"]
        for r in dedup.dup_span_stats(docs, L=8).filter(F.col("dup_frac") > 0.5).collect()
    }
    assert not (capped & high)
    want = set(
        duckdb.sql(
            dedup.curate_docs_sql(f"'{DOCS}'", langs=("en",), tau=0.8, max_dup_frac=0.5)
        ).fetchall()
    )
    assert {tuple(r) for r in capped_rows} == want


def test_embed_components_consistent_with_pairs(spark):
    """Semantic canonicalization (SemDeDup shape): both ends of every
    near-pair share a canonical id; every vec gets exactly one row."""
    from countrymaam_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = ann.cosine_near_pairs(emb, tau=0.5, exact=True).select("id_a", "id_b")
    comp = dedup.dup_components(emb.select("vec_id"), pairs, id_col="vec_id")
    assert comp.count() == emb.count()
    lab = {r["vec_id"]: r["canonical_id"] for r in comp.collect()}
    for r in pairs.collect():
        assert lab[r["id_a"]] == lab[r["id_b"]]


def test_dup_representatives_planted(spark):
    """The survivor per component is the highest-quality member (NOT min id);
    ties on the 4-dp score fall back to min id; singletons keep themselves."""
    base = (
        "this is a long document that contains many of the common english "
        "words and it is written for the quality scorer with plenty of "
        "ordinary text in it so that the score is comfortably high today"
    )
    docs = spark.createDataFrame(
        [
            (1, "zz qq xx"),      # low quality, min id of component {1,2}
            (2, base),            # high quality -> the representative
            (3, base + " alt"),   # singleton
            (4, base + " same"),  # tie component {4,5}: identical text
            (5, base + " same"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (4, 5, 1.0)], "id_a long, id_b long, jac double"
    )
    got = {
        r["doc_id"]: (r["canonical_id"], r["rep_id"], r["keep"])
        for r in dedup.dup_representatives(docs, pairs).collect()
    }
    assert got == {
        1: (1, 2, False),
        2: (1, 2, True),
        3: (3, 3, True),
        4: (4, 4, True),
        5: (4, 4, False),
    }


def test_dup_representatives_matches_oracle(spark, docs):
    got = sorted(
        tuple(r)
        for r in dedup.dup_representatives(
            docs, dedup.minhash_lsh_pairs(docs, tau=0.8)
        ).collect()
    )
    sql = dedup.dup_representatives_sql(
        f"'{DOCS}'",
        dedup.ngram_jaccard_pairs_sql(f"'{DOCS}'", tau=0.8, max_shingle_freq=None),
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want
    assert any(r[0] != r[2] for r in got)  # some doc lost to a better copy


def test_dup_representatives_total_on_empty_and_pairless(spark):
    """Totality: empty corpus -> empty; no pairs -> every doc keeps itself."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    no_pairs = spark.createDataFrame([], "id_a long, id_b long, jac double")
    assert dedup.dup_representatives(empty, no_pairs).count() == 0
    docs = spark.createDataFrame([(1, "a b c"), (2, "d e f")], "doc_id long, text string")
    got = {r["doc_id"]: (r["rep_id"], r["keep"]) for r in dedup.dup_representatives(docs, no_pairs).collect()}
    assert got == {1: (1, True), 2: (2, True)}


def test_components_driver_gate_equals_star_loop(spark, monkeypatch):
    """The small-graph driver path (bounded collect + union-find) must be
    row-identical to the distributed star fixpoint on seeded random graphs
    with singletons and chains mixed in — same min-label contract."""
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        nodes = [f"d{i}" for i in range(40)]
        edges = sorted(
            {tuple(sorted(rng.sample(nodes, 2))) for _ in range(rng.randint(5, 40))}
        )
        docs = spark.createDataFrame([(x,) for x in nodes], "doc_id string")
        pairs = spark.createDataFrame(edges, "id_a string, id_b string")
        fast = sorted(map(tuple, dedup.dup_components(docs, pairs).collect()))
        with monkeypatch.context() as m:
            m.setattr(adaptive, "DRIVER_GRAPH_EDGE_LIMIT", 0)
            slow = sorted(map(tuple, dedup.dup_components(docs, pairs).collect()))
        assert fast == slow, seed
