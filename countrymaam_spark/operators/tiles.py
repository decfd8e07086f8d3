"""Raster<->vector tile assignment: page points -> Web-Mercator (z, x, y)
tiles, plus per-tile rollup counts. Pure column math (closed-form floor math,
SURVEY.md §7 step 5); the ln/tan intermediate is rounded to 9 dp before the
floor so the identical DuckDB oracle floors the same value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo
from countrymaam_spark.operators.knn import merge_counts

# every entry point and its oracle drop pages without a usable coordinate
_VALID_SQL = geo.valid_point_sql("lat", "lon")


def assign_tiles(pages_geo: DataFrame, zooms: list[int]) -> DataFrame:
    """-> (url, z, xt, yt) for each zoom level.

    All zoom expressions evaluate in ONE corpus pass (array-of-structs +
    explode), not a union of per-zoom scans — at 20M rows the union form
    costs one full scan per zoom and its fixed per-stage overhead was the
    dominant non-scaling term of the tile stage. Row set is identical to
    the UNION ALL oracle (order differs; the driver compare sorts)."""
    structs = [
        F.struct(F.lit(z).alias("z"), xt.alias("xt"), yt.alias("yt"))
        for z, (xt, yt) in ((z, _tile_cols(z)) for z in zooms)
    ]
    return (
        geo.located(pages_geo)
        .select("url", F.explode(F.array(*structs)).alias("t"))
        .select("url", "t.z", "t.xt", "t.yt")
    )


def _tile_cols(z: int):
    n = 1 << z
    lat_c = F.greatest(
        F.least(F.col("lat"), F.lit(geo.MERCATOR_MAX_LAT)), F.lit(-geo.MERCATOR_MAX_LAT)
    )
    xt = F.floor(F.round((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)), 9)).cast("long")
    xt = F.least(F.greatest(xt, F.lit(0)), F.lit(n - 1))
    rlat = F.radians(lat_c)
    merc = F.log(F.tan(rlat) + F.lit(1.0) / F.cos(rlat))
    yt = F.floor(
        F.round((F.lit(1.0) - merc / F.lit(3.141592653589793)) / F.lit(2.0) * F.lit(float(n)), 9)
    ).cast("long")
    yt = F.least(F.greatest(yt, F.lit(0)), F.lit(n - 1))
    return xt, yt


def tile_counts(pages_geo: DataFrame, zooms: list[int]) -> DataFrame:
    """Per-tile page counts — the rollup a tile server would pre-compute.

    One corpus aggregation, not |zooms|: rows group once by the COMPOUND
    key (every zoom's tile columns together — the same per-row expressions
    the exploded form evaluates, so results are bit-identical regroupings),
    then each zoom's counts roll up from that small aggregate (~#finest
    tiles rows). The exploded form pushed |zooms| x corpus rows through the
    partial aggregate; this pushes 1x, and the coarse zooms never touch the
    corpus again (the coarse-from-fine rollup pattern of cell_knn's radius
    planner)."""
    keys = []
    for z in zooms:
        xt, yt = _tile_cols(z)
        keys += [xt.alias(f"_x{z}"), yt.alias(f"_y{z}")]
    fine = (
        geo.located(pages_geo)
        .select(*keys)
        .groupBy(*[f"_x{z}" for z in zooms], *[f"_y{z}" for z in zooms])
        .agg(F.count("*").alias("_n"))
    )
    out = None
    for z in zooms:
        part = (
            fine.groupBy(
                F.col(f"_x{z}").alias("xt"), F.col(f"_y{z}").alias("yt")
            )
            .agg(F.sum("_n").alias("n_pages"))
            .select(F.lit(z).alias("z"), "xt", "yt", "n_pages")
        )
        out = part if out is None else out.unionByName(part)
    return out


def _tile_sql(z: int, lat: str, lon: str) -> tuple[str, str]:
    n = 1 << z
    lat_c = f"GREATEST(LEAST({lat}, {geo.MERCATOR_MAX_LAT!r}), {-geo.MERCATOR_MAX_LAT!r})"
    xt = (
        f"LEAST(GREATEST(CAST(FLOOR(ROUND((({lon}) + 180.0) / 360.0 * {float(n)!r}, 9)) AS BIGINT), 0), {n - 1})"
    )
    merc = f"LN(TAN(RADIANS({lat_c})) + 1.0 / COS(RADIANS({lat_c})))"
    yt = (
        f"LEAST(GREATEST(CAST(FLOOR(ROUND((1.0 - {merc} / 3.141592653589793) / 2.0 * {float(n)!r}, 9)) AS BIGINT), 0), {n - 1})"
    )
    return xt, yt


def assign_tiles_sql(pages_rel: str, zooms: list[int]) -> str:
    selects = []
    for z in zooms:
        xt, yt = _tile_sql(z, "lat", "lon")
        selects.append(
            f"SELECT url, {z} AS z, {xt} AS xt, {yt} AS yt FROM {pages_rel} WHERE {_VALID_SQL}"
        )
    return " UNION ALL ".join(selects)


def tile_counts_sql(pages_rel: str, zooms: list[int]) -> str:
    return (
        f"SELECT z, xt, yt, COUNT(*) AS n_pages FROM ({assign_tiles_sql(pages_rel, zooms)}) t "
        f"GROUP BY z, xt, yt"
    )


def tile_bounds(tiles: DataFrame) -> DataFrame:
    """Raster -> vector: append each (z, xt, yt) tile's geographic bounding
    box (lon_min, lat_min, lon_max, lat_max) — the inverse of
    :func:`assign_tiles`'s point->tile floor math, completing the
    raster<->vector pair (a rasterized density grid becomes servable
    vector features again).

    Inverse Web-Mercator, pure column math (whole-stage codegen; ``z`` is a
    per-row column, so one pass vectorizes a mixed-zoom raster table):
    ``lon = xt/2^z*360-180``; ``lat = degrees(atan(sinh(pi*(1-2*yt/2^z))))``
    with sinh spelled ``(exp(t)-exp(-t))/2`` so the DuckDB oracle
    (:func:`tile_bounds_sql`) evaluates the byte-identical formula; like the
    forward path's merc intermediate, results round to 9 dp because Spark's
    and DuckDB's exp/atan differ in the last ulp. yt grows southward, so the
    tile's top edge is yt and its bottom edge yt+1.
    """

    def _lon(t: Column) -> Column:
        return t / F.pow(F.lit(2.0), F.col("z")) * F.lit(360.0) - F.lit(180.0)

    def _lat(t: Column) -> Column:
        a = F.lit(3.141592653589793) * (
            F.lit(1.0) - F.lit(2.0) * t / F.pow(F.lit(2.0), F.col("z"))
        )
        return F.degrees(F.atan((F.exp(a) - F.exp(-a)) / F.lit(2.0)))

    return (
        tiles.withColumn("lon_min", F.round(_lon(F.col("xt")), 9))
        .withColumn("lon_max", F.round(_lon(F.col("xt") + 1), 9))
        .withColumn("lat_min", F.round(_lat(F.col("yt") + 1), 9))
        .withColumn("lat_max", F.round(_lat(F.col("yt")), 9))
    )


def tile_bounds_sql(tiles_rel: str) -> str:
    """DuckDB oracle: the identical inverse formulas over a tile relation
    (must expose z, xt, yt; other columns pass through)."""

    def lon(t: str) -> str:
        return f"(({t}) / POW(2.0, z) * 360.0 - 180.0)"

    def lat(t: str) -> str:
        a = f"(3.141592653589793 * (1.0 - 2.0 * ({t}) / POW(2.0, z)))"
        return f"DEGREES(ATAN((EXP({a}) - EXP(-{a})) / 2.0))"

    return (
        f"SELECT t.*, ROUND({lon('xt')}, 9) AS lon_min, "
        f"ROUND({lon('xt + 1')}, 9) AS lon_max, "
        f"ROUND({lat('yt + 1')}, 9) AS lat_min, "
        f"ROUND({lat('yt')}, 9) AS lat_max FROM {tiles_rel} t"
    )


def quadkey_counts(pages_geo: DataFrame, z: int) -> DataFrame:
    """Per-tile page counts keyed by Bing-style quadkey at zoom ``z`` —
    the tile-server addressing scheme where a parent tile is a string
    PREFIX of its children. One corpus aggregation; coarser zooms roll up
    from this table with ``substring(quadkey, 1, z')`` (no corpus re-scan),
    and a viewport fetch is a ``startswith`` prefix predicate.
    """
    xt, yt = _tile_cols(z)
    return (
        geo.located(pages_geo)
        .select(geo.quadkey(xt, yt, z).alias("quadkey"))
        .groupBy("quadkey")
        .agg(F.count("*").alias("n_pages"))
    )


def quadkey_counts_sql(pages_rel: str, z: int) -> str:
    xt, yt = _tile_sql(z, "lat", "lon")
    qk = geo.quadkey_sql(xt, yt, z)
    return (
        f"SELECT {qk} AS quadkey, CAST(COUNT(*) AS BIGINT) AS n_pages "
        f"FROM {pages_rel} WHERE {_VALID_SQL} GROUP BY 1"
    )


def viewport_join(pages_geo: DataFrame, viewports: DataFrame, res: int = 6) -> DataFrame:
    """Batch viewport (bbox range) join: -> (view_id, url, lat, lon) for
    every page inside each viewport rectangle.

    A range join expressed as a hash EQUI-join: each viewport explodes to
    its cover cells at ``res`` (the `_cover_cells` rectangle enumeration),
    pages probe on their encoded cell, and an exact BETWEEN filter trims
    boundary cells. The viewport side is a dim table (broadcast); the
    corpus never shuffles and a cell-clustered table prunes row groups on
    the cell ranges — the BI-dashboard serving shape at 10^12 rows (a
    BroadcastNestedLoopJoin over the raw range predicates is the plan this
    avoids). Viewports must not cross the antimeridian (split upstream,
    like polygons).
    """
    nx, ny = 2 << res, 1 << res
    step = F.lit(geo.cell_deg(res))
    x_lo = F.greatest(F.floor((F.col("lon_lo") + 180.0) / step).cast("long"), F.lit(0))
    x_hi = F.least(F.floor((F.col("lon_hi") + 180.0) / step).cast("long"), F.lit(nx - 1))
    y_lo = F.greatest(F.floor((F.col("lat_lo") + 90.0) / step).cast("long"), F.lit(0))
    y_hi = F.least(F.floor((F.col("lat_hi") + 90.0) / step).cast("long"), F.lit(ny - 1))
    base = F.lit(res) * F.lit(2**53)
    cover = (
        viewports.select(
            "view_id", "lat_lo", "lat_hi", "lon_lo", "lon_hi",
            F.explode(F.sequence(x_lo, x_hi)).alias("cx"),
            y_lo.alias("y_lo"), y_hi.alias("y_hi"),
        )
        .select(
            "view_id", "lat_lo", "lat_hi", "lon_lo", "lon_hi", "cx",
            F.explode(F.sequence(F.col("y_lo"), F.col("y_hi"))).alias("cy"),
        )
        .select(
            "view_id", "lat_lo", "lat_hi", "lon_lo", "lon_hi",
            (base + F.col("cx") * F.lit(2**26) + F.col("cy")).alias("cell"),
        )
    )
    pages_cells = (
        geo.located(pages_geo)
        .select("url", "lat", "lon")
        .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
    )
    return (
        pages_cells.join(F.broadcast(cover), "cell")
        .filter(
            F.col("lat").between(F.col("lat_lo"), F.col("lat_hi"))
            & F.col("lon").between(F.col("lon_lo"), F.col("lon_hi"))
        )
        .select("view_id", "url", "lat", "lon")
    )


def viewport_join_sql(pages_rel: str, viewports_rel: str) -> str:
    """DuckDB oracle: the raw range-predicate join."""
    return f"""
        SELECT v.view_id, p.url, p.lat, p.lon
        FROM {pages_rel} p, {viewports_rel} v
        WHERE {geo.valid_point_sql('p.lat', 'p.lon')}
          AND p.lat BETWEEN v.lat_lo AND v.lat_hi
          AND p.lon BETWEEN v.lon_lo AND v.lon_hi
    """


def tile_domains(pages_geo: DataFrame, z: int) -> DataFrame:
    """Per-tile EXACT distinct-domain counts at zoom ``z`` — the
    diversity measure a crawl-curation pipeline reads next to raw page
    counts (one domain carpet-bombing a city tile vs genuine coverage).
    Exact distinct is two partial-aggregated hash exchanges; swap in
    approx_count_distinct for a one-pass sketch at extreme cardinality.
    """
    xt, yt = _tile_cols(z)
    dom = F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    return (
        geo.located(pages_geo)
        .select(xt.alias("xt"), yt.alias("yt"), dom.alias("domain"))
        .groupBy("xt", "yt")
        .agg(F.countDistinct("domain").alias("n_domains"))
        .select(F.lit(z).cast("int").alias("z"), "xt", "yt", "n_domains")
    )


def tile_domains_sql(pages_rel: str, z: int) -> str:
    xt, yt = _tile_sql(z, "lat", "lon")
    return f"""
        SELECT CAST({z} AS INTEGER) AS z, xt, yt,
               CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains
        FROM (
            SELECT {xt} AS xt, {yt} AS yt,
                   regexp_extract(url, '^https?://([^/]+)', 1) AS domain
            FROM {pages_rel} WHERE {_VALID_SQL}
        ) t
        GROUP BY xt, yt
    """


def tile_top_pages(pages: DataFrame, z: int, k: int = 3) -> DataFrame:
    """Per-tile top-``k`` pages by text length (the tile-server "featured
    results" rollup): (z, xt, yt, rk, url).

    One window rank per tile — Spark plans it as WindowGroupLimit (partial
    top-k before the exchange, final after), so only ~k rows per tile cross
    the shuffle, not the corpus. Deterministic tie-break (len DESC, url ASC)
    keeps engine and oracle rankings identical.
    """
    from pyspark.sql import Window

    xt, yt = _tile_cols(z)
    ranked = (
        geo.located(pages)
        .select(
            xt.alias("xt"), yt.alias("yt"), "url",
            F.length("text").alias("_len"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("xt", "yt").orderBy(
                    F.col("_len").desc(), F.col("url").asc()
                )
            ),
        )
        .filter(F.col("rk") <= k)
    )
    return ranked.select(F.lit(z).cast("int").alias("z"), "xt", "yt", "rk", "url")


def tile_top_pages_sql(pages_rel: str, z: int, k: int = 3) -> str:
    xt, yt = _tile_sql(z, "lat", "lon")
    return f"""
        SELECT CAST({z} AS INTEGER) AS z, xt, yt, rk, url
        FROM (
            SELECT xt, yt, url,
                   ROW_NUMBER() OVER (
                       PARTITION BY xt, yt
                       ORDER BY LENGTH(text) DESC, url ASC
                   ) AS rk
            FROM (
                SELECT {xt} AS xt, {yt} AS yt, url, text
                FROM {pages_rel} WHERE {_VALID_SQL}
            ) t
        ) r
        WHERE rk <= {k}
    """


def tile_terms(pages: DataFrame, z: int, k: int = 5) -> DataFrame:
    """Per-tile top-``k`` terms by frequency: (z, xt, yt, rk, token, cnt) —
    "what is talked about where", the text×geo rollup a map-search or
    crawl-curation pipeline builds per tile.

    Shape at scale: tokenization + the map-side (tile, token) combine run in
    ONE ``mapInArrow`` pass — compiled-regex ``findall`` over the
    JVM-lowercased text plus a per-batch Counter — so the shuffle carries
    vocab-bounded partial histograms (token occurrences never leave their
    task), and the hot per-token work is C-speed instead of a JVM regex
    split + two array-lambda passes + a 10^7-row explode (guide §4.2;
    measured 7.0 s -> 3.9 s at sf0.1, bit-identical output — pinned by
    pytest against the expression-only form).  Lowercasing stays in the JVM
    so Python never applies its own (potentially divergent on exotic
    Unicode) case folding; the ``[a-z0-9]+`` findall is exactly the token
    set of ``split('[^a-z0-9]+')`` minus empties.  The rank filter compiles
    to WindowGroupLimit (~k rows per tile past the second, tile-keyed
    exchange).  English stopwords and single-char tokens are dropped (both
    engines, same list) so the rollup surfaces discriminative terms.
    Tie-break (cnt DESC, token ASC) keeps engine and oracle rankings
    identical.
    """
    import re

    import pyarrow as pa
    from pyspark.sql import Window

    from countrymaam_spark.functions import text as T

    xt, yt = _tile_cols(z)
    sw = frozenset(T.STOPWORDS["en"])
    pat = re.compile("[a-z0-9]+")

    def tok_count(batches):
        from collections import Counter

        for b in batches:
            c: Counter = Counter()
            for x, y, t in zip(
                b.column("xt").to_pylist(),
                b.column("yt").to_pylist(),
                b.column("lt").to_pylist(),
            ):
                if t is None:
                    continue
                for tok in pat.findall(t):
                    if len(tok) >= 2 and tok not in sw:
                        c[(x, y, tok)] += 1
            if c:
                ks = list(c.keys())
                yield pa.record_batch(
                    {
                        "xt": pa.array([k[0] for k in ks], pa.int64()),
                        "yt": pa.array([k[1] for k in ks], pa.int64()),
                        "token": pa.array([k[2] for k in ks], pa.string()),
                        "pcnt": pa.array([c[k] for k in ks], pa.int64()),
                    }
                )

    counts = (
        geo.located(pages)
        .select(xt.alias("xt"), yt.alias("yt"), F.lower(F.col("text")).alias("lt"))
        .mapInArrow(tok_count, "xt long, yt long, token string, pcnt long")
        .groupBy("xt", "yt", "token")
        .agg(F.sum("pcnt").alias("cnt"))
    )
    ranked = counts.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("xt", "yt").orderBy(
                F.col("cnt").desc(), F.col("token").asc()
            )
        ),
    ).filter(F.col("rk") <= int(k))
    return ranked.select(
        F.lit(z).cast("int").alias("z"), "xt", "yt", "rk", "token", "cnt"
    )


def tile_terms_sql(pages_rel: str, z: int, k: int = 5) -> str:
    from countrymaam_spark.functions import text as T

    xt, yt = _tile_sql(z, "lat", "lon")
    sw = ", ".join(f"'{w}'" for w in T.STOPWORDS["en"])
    return f"""
        SELECT CAST({z} AS INTEGER) AS z, xt, yt, rk, token, cnt
        FROM (
            SELECT xt, yt, token, cnt,
                   ROW_NUMBER() OVER (
                       PARTITION BY xt, yt
                       ORDER BY cnt DESC, token ASC
                   ) AS rk
            FROM (
                SELECT xt, yt, token, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (
                    SELECT {xt} AS xt, {yt} AS yt,
                           unnest({T.tokens_sql('text')}) AS token
                    FROM {pages_rel} WHERE {_VALID_SQL}
                ) e
                WHERE LENGTH(token) >= 2 AND token NOT IN ({sw})
                GROUP BY xt, yt, token
            ) c
        ) r
        WHERE rk <= {int(k)}
    """


def update_quadkey_counts(
    counts_old: DataFrame, new_pages_geo: DataFrame, z: int
) -> DataFrame:
    """Merge an append batch into the quadkey tile-count state — the
    incremental-maintenance half of :func:`quadkey_counts` (same shape as
    the cell index's ``update_cell_stats``): aggregate the BATCH only
    (|batch| rows, never the corpus), one outer merge against the
    ~|tiles|-row state. Commutative/associative, so any append order equals
    ``quadkey_counts`` over the unioned corpus (pytest-pinned). Coarser
    zooms keep rolling up from this table by quadkey prefix, so ONE
    maintained table serves every zoom level.
    """
    return merge_counts(counts_old, quadkey_counts(new_pages_geo, z), ["quadkey"], "n_pages")
