"""KMV (k-minimum-values) distinct-count sketches — approximate
COUNT(DISTINCT key) per group at sketch cost, DETERMINISTIC by
construction (Bar-Yossef et al. 2002, public).

Why not `approx_count_distinct`: Spark's HLL++ and DuckDB's approx sketch
disagree (different algorithms, different seeds), so HLL results can never
be oracle-checked, and they change under engine upgrades. KMV over the
repo's engine-portable ``tok_hash`` is a pure function of the key SET:

- hash every key with ``tok_hash`` (uniform on [0, M31)),
- keep the k smallest DISTINCT hash values per group,
- if the group holds fewer than k distinct hashes the count is EXACT;
  otherwise estimate (k-1) * M31 div h_k (the k-th minimum hash) — the
  classic KMV estimator in exact integer arithmetic (fits BIGINT:
  (k-1) * M31 < 2^39 for k <= 256).

Identical rows in both engines, re-runs, and any partitioning — the same
argument as ``stratified_sample``. Relative error ~ 1/sqrt(k-2)
(~6% at k=256), pytest-pinned against exact counts.

MERGEABLE: the sketch of a union is the k smallest of the sketch union, so
per-partition/per-batch sketches combine without touching raw keys —
:func:`kmv_merge` implements it and the append test pins
merge(sketch(A), sketch(B)) == sketch(A ∪ B) row-for-row. At 10^12 pages
this is the shape that matters: each ingest batch ships O(groups · k)
sketch rows, never a distinct-key shuffle of the corpus.

Scale shape: one partial-agg distinct on (group, hash) — the map side
absorbs duplicate keys — then a per-group WindowGroupLimit keeps k rows
before the final exchange: O(groups · k) shuffled rows.

Reference tie-in: none (ANN library); the brief's "novel sketch" custom
operator class for corpus profiling.

The module's second member is the FREQUENCY sketch: Misra-Gries summaries
(Misra & Gries 1982, public) feeding an EXACT heavy-hitters answer — see
:func:`heavy_hitters`. Same contract as KMV: bounded state, mergeable
partials, and a result DuckDB can reproduce bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from countrymaam_spark.functions import text as T
from countrymaam_spark.functions.text import M31


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int = 256,
    salt: str = "kmv0",
) -> DataFrame:
    """-> (group_cols..., h): the k smallest distinct key hashes per group
    — the sketch rows themselves (feed to :func:`kmv_estimate` /
    :func:`kmv_merge`). NULL keys are dropped (COUNT DISTINCT semantics)."""
    if k < 3:
        raise ValueError("k must be >= 3 (estimator needs k-1 and h_k)")
    h = T.tok_hash(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, h.alias("h"))
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(k))
        .drop("rk")
    )


def kmv_merge(
    sketches: DataFrame, group_cols: list[str], k: int = 256
) -> DataFrame:
    """Union of sketch tables -> one valid sketch per group (k smallest of
    the distinct union). Closed under itself: merge(merge(a,b),c) ==
    sketch(a ∪ b ∪ c)."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        sketches.select(*group_cols, "h")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(k))
        .drop("rk")
    )


def kmv_estimate(
    sketches: DataFrame, group_cols: list[str], k: int = 256
) -> DataFrame:
    """-> (group_cols..., n_distinct_est): exact when the group carries
    fewer than k sketch rows, else (k-1) * M31 div h_k — BIGINT math only,
    bit-identical across engines."""
    return sketches.groupBy(*group_cols).agg(
        F.when(
            F.count("*") < int(k),
            F.count("*").cast("long"),
        )
        .otherwise(
            F.expr(f"CAST({int(k) - 1} AS BIGINT) * {M31} div MAX(h)")
        )
        .alias("n_distinct_est")
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int = 256,
    salt: str = "kmv0",
) -> DataFrame:
    """sketch + estimate in one call: (group_cols..., n_distinct_est)."""
    return kmv_estimate(kmv_sketch(df, group_cols, key_col, k, salt), group_cols, k)


def kmv_distinct_sql(
    rel: str,
    group_cols: list[str],
    key_col: str,
    k: int = 256,
    salt: str = "kmv0",
) -> str:
    """Oracle: the identical hash, the identical k-smallest set, the
    identical integer estimator."""
    g = ", ".join(group_cols)
    h = T.tok_hash_sql(f"'{salt}' || CAST({key_col} AS VARCHAR)")
    return f"""
        WITH hashed AS (
            SELECT DISTINCT {g}, {h} AS h
            FROM {rel} WHERE {key_col} IS NOT NULL
        ),
        topk AS (
            SELECT * FROM (
                SELECT {g}, h,
                       ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY h) AS rk
                FROM hashed
            ) WHERE rk <= {int(k)}
        )
        SELECT {g},
               CASE WHEN COUNT(*) < {int(k)} THEN CAST(COUNT(*) AS BIGINT)
                    ELSE CAST({int(k) - 1} AS BIGINT) * {M31} // MAX(h)
               END AS n_distinct_est
        FROM topk
        GROUP BY {g}
    """


def kmv_jaccard(
    sk_a: DataFrame,
    sk_b: DataFrame,
    group_cols: list[str],
    k: int = 256,
) -> DataFrame:
    """Set resemblance between two sketched key sets per group (Broder
    1997, public): -> (group_cols..., j_num, j_den, jaccard_est).

    Estimator: take the k smallest hashes of the DISTINCT union of the two
    sketches (itself a valid sketch of A ∪ B); the fraction of them present
    in BOTH input sketches estimates |A ∩ B| / |A ∪ B|. When the union
    carries fewer than k hashes the ratio is EXACT (both sets fit whole).
    ``j_num``/``j_den`` are the exact integers behind the 4-dp ratio, so
    the result is bit-identical across engines and reduce orders.

    The crawl-auditing question this answers at 10^12 pages: "how much of
    dump B's hosts/urls/shas are already in dump A" — computed from two
    O(groups · k) sketch tables, never from the raw key sets (the sketches
    persist per snapshot; the resemblance of ANY pair of snapshots is then
    a sketch-only join, no corpus access).
    """
    w = Window.partitionBy(*group_cols).orderBy("h")
    a = sk_a.select(*group_cols, "h").withColumn("in_a", F.lit(1))
    b = sk_b.select(*group_cols, "h").withColumn("in_b", F.lit(1))
    u = (
        a.join(b, [*group_cols, "h"], "full")
        .select(
            *group_cols,
            "h",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(k))
    )
    return u.groupBy(*group_cols).agg(
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("j_num"),
        F.count("*").cast("long").alias("j_den"),
        F.round(
            F.sum(F.col("in_a") * F.col("in_b")) / F.count("*"), 4
        ).alias("jaccard_est"),
    )


def kmv_jaccard_sql(
    rel_a: str,
    rel_b: str,
    group_cols: list[str],
    key_col: str,
    k: int = 256,
    salt: str = "kmv0",
) -> str:
    """Oracle over the RAW relations: sketch each side with the identical
    hash/k, then the identical union-sketch membership ratio."""
    g = ", ".join(group_cols)

    def _sk(rel: str) -> str:
        h = T.tok_hash_sql(f"'{salt}' || CAST({key_col} AS VARCHAR)")
        return f"""
            SELECT * FROM (
                SELECT {g}, h,
                       ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY h) AS rk
                FROM (SELECT DISTINCT {g}, {h} AS h
                      FROM {rel} WHERE {key_col} IS NOT NULL)
            ) WHERE rk <= {int(k)}
        """

    on = " AND ".join([f"a.{c} = b.{c}" for c in group_cols] + ["a.h = b.h"])
    gc_coal = ", ".join(f"COALESCE(a.{c}, b.{c}) AS {c}" for c in group_cols)
    return f"""
        WITH sa AS ({_sk(rel_a)}), sb AS ({_sk(rel_b)}),
        u AS (
            SELECT * FROM (
                SELECT {gc_coal},
                       COALESCE(a.h, b.h) AS h,
                       CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
                       CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b,
                       ROW_NUMBER() OVER (
                           PARTITION BY {", ".join(f"COALESCE(a.{c}, b.{c})" for c in group_cols)}
                           ORDER BY COALESCE(a.h, b.h)
                       ) AS rk
                FROM sa a FULL JOIN sb b ON {on}
            ) WHERE rk <= {int(k)}
        )
        SELECT {g},
               CAST(SUM(in_a * in_b) AS BIGINT) AS j_num,
               CAST(COUNT(*) AS BIGINT) AS j_den,
               ROUND(CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*), 4) AS jaccard_est
        FROM u GROUP BY {g}
    """


# --- Misra-Gries heavy hitters (frequency sketch -> exact answer) ---------


def mg_summaries(df: DataFrame, key_col: str, capacity: int) -> DataFrame:
    """Per-PARTITION Misra-Gries frequency summaries: -> (key, est).

    Bounded-memory kernel (``mapInPandas``, narrow, no shuffle): each
    partition keeps at most ``capacity`` (key, lower-bound-count) pairs.
    Whenever a batch pushes the table above capacity, the (capacity+1)-th
    largest count is subtracted from every entry and non-positive entries
    drop — the batched form of the classic decrement. Every compress
    removes at least (capacity+1) * cut occurrences, and the partition
    holds n_p occurrences total, so the per-key undercount is bounded by
    n_p / (capacity + 1). Corollary (the guarantee :func:`heavy_hitters`
    builds on): every key with partition frequency > n_p / (capacity + 1)
    SURVIVES in that partition's summary.

    Summaries are partitioning-dependent (like any MG run order) — they are
    candidates, never answers. Peak state: capacity + one Arrow batch of
    distinct keys. Keys must be strings (the token/url/host use cases);
    NULLs are dropped.
    """
    import pandas as pd  # noqa: PLC0415 (worker-side import kept local)

    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    cap = int(capacity)

    def gen(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            vc = pdf[key_col].dropna().value_counts()
            for key, c in vc.items():
                counts[key] = counts.get(key, 0) + int(c)
            if len(counts) > cap:
                cut = sorted(counts.values(), reverse=True)[cap]
                counts = {k: v - cut for k, v in counts.items() if v > cut}
        yield pd.DataFrame(
            {"key": list(counts.keys()), "est": list(counts.values())}
        )

    return df.select(F.col(key_col).cast("string").alias(key_col)).mapInPandas(
        gen, "key string, est long"
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    total: int | None = None,
    capacity: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters without a full-vocabulary shuffle:
    -> (key_col, cnt), every key occurring >= ``threshold`` times.

    Two passes, the MinHash-LSH candidates-then-verify shape:

    1. :func:`mg_summaries` per partition (narrow, bounded memory), union
       of summary keys = candidate set. With ``capacity = total div
       threshold + 1`` the per-partition survival guarantee sums across
       partitions: freq(key) >= threshold > total/(capacity+1) implies
       freq_p > n_p/(capacity+1) in at least one partition, so the
       candidate set provably contains every true heavy hitter.
    2. Exact count of CANDIDATE keys only: estimate-gated broadcast
       semi-join (vocabulary-independent — only O(partitions * capacity)
       candidates move), then a map-side-partial count over the surviving
       occurrences, HAVING >= threshold.

    The answer is therefore exact and partitioning-independent even though
    the intermediate summaries are neither. At 10^12 pages this replaces
    the GROUP BY over ~10^8 vocabulary keys x corpus occurrences with a
    narrow scan + a count over the few candidate keys.

    ``total`` (the occurrence count) is taken from one cheap count job if
    not supplied; callers composing pipelines should pass it (and may pass
    ``capacity`` directly to trade summary size for candidate precision —
    exactness requires capacity >= total div threshold + 1, enforced).
    """
    from countrymaam_spark.operators.adaptive import gate_broadcast

    if threshold < 1:
        raise ValueError("threshold must be >= 1")
    occ = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias(key_col)
    )
    if total is None:
        total = occ.count()
    floor_cap = int(total) // int(threshold) + 1
    if capacity is None:
        capacity = floor_cap
    elif capacity < floor_cap:
        raise ValueError(
            f"capacity {capacity} breaks the exactness guarantee; "
            f"need >= total div threshold + 1 = {floor_cap}"
        )
    cand = (
        mg_summaries(occ, key_col, capacity)
        .select(F.col("key").alias(key_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cand = cand.count()
    return (
        occ.join(gate_broadcast(cand, n_cand), key_col, "semi")
        .groupBy(key_col)
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= int(threshold))
    )


def heavy_hitters_sql(rel: str, key_col: str, threshold: int) -> str:
    """Oracle: the exact definition the sketch path provably reproduces."""
    return f"""
        SELECT CAST({key_col} AS VARCHAR) AS {key_col},
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {rel} WHERE {key_col} IS NOT NULL
        GROUP BY 1 HAVING COUNT(*) >= {int(threshold)}
    """
