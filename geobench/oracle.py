"""Independent checks of the engine's outputs.

kNN answers are checked against a numpy brute-force haversine over the
planted points; polygon membership and tile counts against the engine's
DuckDB SQL oracles run over the planted points, not over anything the engine
computed.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from gen import grid_xy

from countrymaam_spark.operators.pip import point_in_polygon_sql
from countrymaam_spark.operators.tiles import tile_counts_sql

EARTH_RADIUS_KM = 6371.0088
# engine distances are rounded to 6 dp; allow that plus float noise
DIST_TOL_KM = 2e-6


def page_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


class Truth:
    """Planted coordinates and url by page id (NaN coordinates: untagged)."""

    def __init__(self) -> None:
        self.lat = np.empty(0)
        self.lon = np.empty(0)
        self.urls: list[str] = []

    def add(self, first_id: int, lat: np.ndarray, lon: np.ndarray, urls: list[str]) -> None:
        if first_id != len(self.lat):
            raise ValueError("page ids must be contiguous")
        self.lat = np.concatenate([self.lat, lat])
        self.lon = np.concatenate([self.lon, lon])
        self.urls += urls

    def frame(self) -> pd.DataFrame:
        """(url-id, lat, lon) of every tagged page."""
        ok = ~np.isnan(self.lat)
        return pd.DataFrame({"pid": np.flatnonzero(ok), "lat": self.lat[ok], "lon": self.lon[ok]})


def _haversine(qlat: float, qlon: float, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    rq, rp = np.radians(qlat), np.radians(lat)
    a = np.sin(np.radians(qlat - lat) / 2.0) ** 2 + np.cos(rp) * np.cos(rq) * np.sin(
        np.radians(qlon - lon) / 2.0
    ) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def knn_check(rows, queries: pd.DataFrame, truth: Truth, k: int, exact: bool) -> tuple[list[bool], list[float]]:
    """-> (per-query pass flag, per-query recall@k).

    Every returned row must carry its url's true distance, ranks must be
    1..m in distance order and urls unique. ``exact`` also requires m =
    min(k, pages) and the i-th distance to equal the i-th true nearest
    distance, which admits any tie order at the 6-dp distance contract.
    Recall counts returned urls no farther than the true k-th distance."""
    ok_mask = ~np.isnan(truth.lat)
    plat, plon = truth.lat[ok_mask], truth.lon[ok_mask]
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    passed, recall = [], []
    for q in queries.itertuples(index=False):
        got = sorted(by_q.get(int(q.query_id), []), key=lambda r: r["rk"])
        d_all = _haversine(q.lat, q.lon, plat, plon)
        m = min(k, len(d_all))
        top = np.sort(np.partition(d_all, m - 1)[:m])
        ids = [page_id(r["url"]) for r in got]
        dist = np.array([r["dist_km"] for r in got], dtype=np.float64)
        true_d = (
            _haversine(q.lat, q.lon, truth.lat[ids], truth.lon[ids]) if ids else np.empty(0)
        )
        good = (
            [r["rk"] for r in got] == list(range(1, len(got) + 1))
            and len(set(ids)) == len(ids)
            and bool(np.all(ok_mask[ids]))
            and bool(np.all(np.abs(dist - true_d) <= DIST_TOL_KM))
            and bool(np.all(np.diff(dist) >= 0))
            and len(got) <= m
        )
        if exact:
            good = good and len(got) == m and bool(np.all(np.abs(dist - top) <= DIST_TOL_KM))
        passed.append(good)
        recall.append(float(np.sum(true_d <= top[-1] + DIST_TOL_KM)) / m if good else 0.0)
    return passed, recall


def _duckdb(truth: Truth, edges: pa.Table | None = None, keep: np.ndarray | None = None):
    con = duckdb.connect()
    f = truth.frame()
    if keep is not None:
        f = f[keep]
    pages = pd.DataFrame({"url": f["pid"], "lat": f["lat"], "lon": f["lon"]})
    con.register("pages", pages)
    if edges is not None:
        con.register("edges", edges)
    return con


def pip_check(rows, truth: Truth, edges: pa.Table) -> bool:
    """(poly_id, url) pairs equal the brute-force ray-cast oracle's, run on
    the pages inside some polygon's bounding box (no other can match)."""
    e = edges.to_pandas()
    lat_lo = np.minimum(e["lat1"], e["lat2"]).groupby(e["poly_id"]).min().to_numpy()
    lat_hi = np.maximum(e["lat1"], e["lat2"]).groupby(e["poly_id"]).max().to_numpy()
    lon_lo = np.minimum(e["lon1"], e["lon2"]).groupby(e["poly_id"]).min().to_numpy()
    lon_hi = np.maximum(e["lon1"], e["lon2"]).groupby(e["poly_id"]).max().to_numpy()
    f = truth.frame()
    lat, lon = f["lat"].to_numpy()[:, None], f["lon"].to_numpy()[:, None]
    near = ((lat >= lat_lo) & (lat <= lat_hi) & (lon >= lon_lo) & (lon <= lon_hi)).any(axis=1)
    con = _duckdb(truth, edges, near)
    try:
        want = set(con.execute(point_in_polygon_sql("pages", "edges")).fetchall())
    finally:
        con.close()
    got = [(int(r["poly_id"]), page_id(r["url"])) for r in rows]
    return len(got) == len(set(got)) and set(got) == want


def tiles_check(rows, truth: Truth, zooms: list[int]) -> bool:
    """(z, xt, yt, n_pages) rows equal the UNION ALL oracle's."""
    con = _duckdb(truth)
    try:
        want = con.execute(tile_counts_sql("pages", zooms)).fetchall()
    finally:
        con.close()
    got = [(int(r["z"]), int(r["xt"]), int(r["yt"]), int(r["n_pages"])) for r in rows]
    return sorted(got) == sorted(tuple(int(v) for v in w) for w in want)


def _cell_id(lv: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return np.int64(lv) * (1 << 53) + x * (1 << 26) + y


def lut_rows(truth: Truth, res: int, levels: list[int]) -> dict[tuple[int, int], int]:
    """The multi-level planning lut ((lv, cell) -> pages) of the served
    pages, rebuilt in numpy from the planted points."""
    f = truth.frame()
    x, y = grid_xy(f["lat"].to_numpy(), f["lon"].to_numpy(), res)
    out = {}
    for lv in levels:
        s = res - lv
        cells, cnt = np.unique(_cell_id(lv, x >> s, y >> s), return_counts=True)
        out.update({(lv, int(c)): int(n) for c, n in zip(cells, cnt)})
    return out


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(v: int, r: int) -> int:
    return ((v << r) | (v >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit value: Spark's ``xxhash64`` of a
    string column (its default seed is 42), computed without Spark."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for vj in v:
            h = ((h ^ _round(0, vj)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def tree_groups(truth: Truth, parent_res: int, group_rows: int, n_base: int) -> dict[tuple[int, int], tuple]:
    """(parent, salt) -> (rows, checksum) of the tree index's groups, rebuilt
    from the planted points alone. A parent's salt factor is fixed when the
    index is built from the first ``n_base`` pages: ceil(pages / group_rows),
    at least 1 (1 for a parent first seen in an append); a page's salt is its
    url's xxhash64 modulo that factor."""
    f = truth.frame()
    x, y = grid_xy(f["lat"].to_numpy(), f["lon"].to_numpy(), parent_res)
    parent = _cell_id(parent_res, x, y)
    pid = f["pid"].to_numpy()
    base_parents, base_n = np.unique(parent[pid < n_base], return_counts=True)
    factor = dict(zip(base_parents.tolist(), (-(-base_n // group_rows)).tolist()))
    urls = [truth.urls[i] for i in pid]
    groups: dict[tuple[int, int], list[str]] = {}
    for url, p in zip(urls, parent.tolist()):
        salt = xxhash64(url.encode()) % factor.get(p, 1)
        groups.setdefault((p, salt), []).append(url)
    return {
        g: (len(us), hashlib.sha256("\n".join(sorted(us)).encode()).hexdigest()[:16])
        for g, us in groups.items()
    }
