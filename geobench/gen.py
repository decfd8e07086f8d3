"""Seeded inputs for the geo-engine benchmark.

Everything the engine sees is generated here from the workload seed: a crawl
of pages shaped like ``countrymaam_spark.sources.pages`` (Zipf-1.1 hot cities
plus a 20 % uniform background, the place mention planted in ``text`` with the
template ``operators.geotag`` parses), polygon rings, append deltas and kNN
query batches. Nothing is read from the repository's seed-42 ``fixtures/``.

Ground truth (the planted lat/lon of each page) stays on the benchmark side;
the oracles in ``oracle.py`` use it, the engine re-derives it from ``text``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

N_CITIES = 50
N_SITES = 997
WORLD_SEED = 7
UNTAGGED_FRAC = 0.02  # pages with no place mention -> NULL lat/lon

_FILLERS = [
    "The quick brown fox jumps over the lazy dog.",
    "Weather reports and travel notes follow below.",
    "An archive of community posts and reviews.",
    "Historical records digitized from public sources.",
    "Local news and announcements for the region.",
    "A directory of shops, parks, and museums.",
    "Notes from a long bicycle journey across the country.",
    "Observations collected by volunteer surveyors.",
]
_LANGS = ["en", "de", "fr", "ja", "pt"]
_LANG_P = [0.55, 0.15, 0.12, 0.08, 0.10]
_BASE_US = 1_729_036_800_000_000  # 2024-10-16T00:00:00Z

# (lat, lon) cases every uniform batch carries: poles, antimeridian, origin
EDGE_QUERIES = [(89.5, 10.0), (-89.5, -170.0), (10.0, 179.99), (-45.0, -179.99)]


@dataclass
class Pages:
    """A generated crawl slice: the engine-facing table plus ground truth."""

    table: pa.Table  # url, warc_ts, html, text, lang
    lat: np.ndarray  # planted point (NaN where the page has no mention)
    lon: np.ndarray
    first_id: int  # url of row i ends in /{first_id + i}


@dataclass
class World:
    """City centres and their popularity."""

    lat: np.ndarray
    lon: np.ndarray
    weight: np.ndarray


def world() -> World:
    """The gazetteer, the same for every seed as in ``sources/pages.py``:
    a seed varies the pages, queries and polygons drawn around it, not where
    the cities are, so a run's cost does not hinge on the city layout."""
    rng = np.random.default_rng(WORLD_SEED)
    w = 1.0 / np.arange(1, N_CITIES + 1) ** 1.1
    return World(
        lat=rng.uniform(-60.0, 70.0, N_CITIES),
        lon=rng.uniform(-179.0, 179.0, N_CITIES),
        weight=w / w.sum(),
    )


def _points(rng, w: World, n: int, sigma: float) -> tuple[np.ndarray, np.ndarray]:
    is_city = rng.random(n) < 0.8
    c = rng.choice(N_CITIES, size=n, p=w.weight)
    lat = np.where(is_city, w.lat[c] + rng.normal(0.0, sigma, n), rng.uniform(-84.0, 84.0, n))
    lon = np.where(is_city, w.lon[c] + rng.normal(0.0, sigma, n), rng.uniform(-180.0, 180.0, n))
    lat = np.round(np.clip(lat, -84.9, 84.9), 5)
    lon = np.round(((lon + 180.0) % 360.0) - 180.0, 5)
    return lat, lon


def pages(seed: int, stream: int, n: int, first_id: int) -> Pages:
    """``n`` pages with url ids ``first_id..first_id+n-1``; ``stream`` picks
    an independent random stream (base crawl, append batch)."""
    w = world()
    rng = np.random.default_rng([seed, 1, stream])
    lat, lon = _points(rng, w, n, 0.05)
    tagged = rng.random(n) >= UNTAGGED_FRAC
    city = rng.integers(0, N_CITIES, n)
    fa = rng.integers(0, len(_FILLERS), n)
    fb = rng.integers(0, len(_FILLERS), n)
    year = rng.integers(1998, 2025, n)
    site = rng.integers(0, N_SITES, n)
    lang = rng.choice(_LANGS, size=n, p=_LANG_P)
    # the planted point is the value of its 5-dp text, as the engine parses it
    lat_s = [f"{v:.5f}" for v in lat]
    lon_s = [f"{v:.5f}" for v in lon]
    urls, texts = [], []
    for i in range(n):
        gi = first_id + i
        urls.append(f"https://site{site[i]:04d}.example/{gi}")
        where = (
            f"near city{city[i]:02d} ({lat_s[i]}, {lon_s[i]})"
            if tagged[i]
            else f"around city{city[i]:02d}"
        )
        texts.append(
            f"Page {gi} from site{site[i]:04d}. {_FILLERS[fa[i]]} "
            f"Travelers wrote about places {where} in {year[i]}. {_FILLERS[fb[i]]}"
        )
    htmls = [f"<html><body>{t}</body></html>".encode() for t in texts]
    ts = _BASE_US + (first_id + np.arange(n, dtype=np.int64)) * 1_000_000
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(list(lang), pa.string()),
        }
    )
    return Pages(
        table,
        np.where(tagged, np.array(lat_s, dtype=np.float64), np.nan),
        np.where(tagged, np.array(lon_s, dtype=np.float64), np.nan),
        first_id,
    )


def polygons(seed: int, n_poly: int = 40) -> pa.Table:
    """Star-shaped rings as an edge table (poly_id, seq, lat1, lon1, lat2,
    lon2): three quarters around cities (non-empty), the rest anywhere."""
    w = world()
    rng = np.random.default_rng([seed, 2])
    cols: dict[str, list] = {k: [] for k in ("poly_id", "seq", "lat1", "lon1", "lat2", "lon2")}
    for p in range(n_poly):
        if p < 3 * n_poly // 4:
            c = rng.integers(0, N_CITIES)
            cy, cx, r = float(w.lat[c]), float(w.lon[c]), float(rng.uniform(0.05, 1.0))
        else:
            cy, cx, r = float(rng.uniform(-70, 70)), float(rng.uniform(-160, 160)), float(rng.uniform(0.5, 5.0))
        nv = int(rng.integers(5, 11))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = r * rng.uniform(0.6, 1.4, nv)
        vy = np.round(np.clip(cy + rad * np.sin(ang), -84.9, 84.9), 6)
        vx = np.round(np.clip(cx + rad * np.cos(ang), -179.9, 179.9), 6)
        for j in range(nv):
            cols["poly_id"].append(p)
            cols["seq"].append(j)
            cols["lat1"].append(float(vy[j]))
            cols["lon1"].append(float(vx[j]))
            cols["lat2"].append(float(vy[(j + 1) % nv]))
            cols["lon2"].append(float(vx[(j + 1) % nv]))
    return pa.table(
        {
            "poly_id": pa.array(cols["poly_id"], pa.int64()),
            "seq": pa.array(cols["seq"], pa.int32()),
            **{k: pa.array(cols[k], pa.float64()) for k in ("lat1", "lon1", "lat2", "lon2")},
        }
    )


def _query_table(first_id: int, lat: np.ndarray, lon: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "query_id": pa.array(np.arange(first_id, first_id + len(lat)), pa.int64()),
            "lat": pa.array(np.round(lat, 6), pa.float64()),
            "lon": pa.array(np.round(lon, 6), pa.float64()),
        }
    )


def uniform_queries(seed: int, batch: int, size: int) -> pa.Table:
    """Half near (popularity-weighted) cities, half uniform over the globe,
    with the pole/antimeridian cases of ``EDGE_QUERIES`` at the end."""
    w = world()
    rng = np.random.default_rng([seed, 3, batch])
    n = size - len(EDGE_QUERIES)
    c = rng.choice(N_CITIES, size=n, p=w.weight)
    near = np.arange(n) % 2 == 0
    lat = np.where(near, w.lat[c] + rng.normal(0, 0.1, n), rng.uniform(-84.0, 84.0, n))
    lon = np.where(near, w.lon[c] + rng.normal(0, 0.1, n), rng.uniform(-180.0, 180.0, n))
    lat = np.concatenate([np.clip(lat, -84.9, 84.9), [q[0] for q in EDGE_QUERIES]])
    lon = np.concatenate([((lon + 180.0) % 360.0) - 180.0, [q[1] for q in EDGE_QUERIES]])
    return _query_table(batch * size, lat, lon)


def grid_xy(lat: np.ndarray, lon: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cell (x, y) at ``res`` on the quad-grid of ``functions.geo.encode_cell``,
    computed independently of the engine."""
    step = 180.0 / (1 << res)
    x = np.clip(np.floor((lon + 180.0) / step), 0, (2 << res) - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / step), 0, (1 << res) - 1).astype(np.int64)
    return x, y


def metro_queries(seed: int, batch: int, size: int, base: Pages, res: int = 3) -> pa.Table:
    """Queries on pages of the densest ``res`` parent cell of the base crawl,
    jittered and kept inside that cell: candidates pile into a few hot cells."""
    rng = np.random.default_rng([seed, 4, batch])
    ok = np.flatnonzero(~np.isnan(base.lat))
    x, y = grid_xy(base.lat[ok], base.lon[ok], res)
    key = x * (1 << res) + y
    vals, cnt = np.unique(key, return_counts=True)
    hot = vals[np.argmax(cnt)]
    idx = rng.choice(ok[key == hot], size=size)
    step = 180.0 / (1 << res)
    lo_lat, lo_lon = (hot % (1 << res)) * step - 90.0, (hot // (1 << res)) * step - 180.0
    eps = 1e-6
    lat = np.clip(base.lat[idx] + rng.normal(0, 0.02, size), lo_lat + eps, lo_lat + step - eps)
    lon = np.clip(base.lon[idx] + rng.normal(0, 0.02, size), lo_lon + eps, lo_lon + step - eps)
    return _query_table(batch * size, lat, lon)
