"""Independent expected outputs for the benchmark's workloads.

Every function here recomputes an engine output from the workload's
input definition with plain numpy / heapq code and the ring and tile
primitives of ``osm_spark.geo.kernels``.  None of them calls an engine
operator or the engine's own test oracles, so a defect in an operator
shows up as a mismatch instead of being reproduced.
"""

from __future__ import annotations

import heapq
import math
import re

import numpy as np

from osm_spark.geo import kernels as K

_GEO_RE = re.compile(r"/geo/(-?\d+)/(-?\d+)/.*page(\d+)$")


def parse_urls(urls) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(page_id, lat, lon) from Common-Crawl-style urls carrying the
    ``/geo/<lat_fp>/<lon_fp>/…page<id>`` slug."""
    ids, lats, lons = [], [], []
    for u in urls:
        m = _GEO_RE.search(u)
        lats.append(int(m.group(1)))
        lons.append(int(m.group(2)))
        ids.append(int(m.group(3)))
    return (np.asarray(ids, np.int64), np.asarray(lats, np.int64),
            np.asarray(lons, np.int64))


# ---------------------------------------------------------------------------
# point in polygon


def pip_pairs(lat, lon, polygons) -> tuple[np.ndarray, np.ndarray]:
    """All (point index, feature_id) pairs with the point inside the
    polygon: inside some outer ring (role 0) and in none of its holes.

    Points are sorted by longitude once; each polygon scans only the
    points inside its bounding box."""
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    slat = lat[order]
    out_i, out_f = [], []
    for p in polygons:
        rings = [(r["role"], np.asarray(r["lon"], np.int64),
                  np.asarray(r["lat"], np.int64)) for r in p["rings"]]
        xs = np.concatenate([r[1] for r in rings])
        ys = np.concatenate([r[2] for r in rings])
        a = np.searchsorted(slon, xs.min(), side="left")
        b = np.searchsorted(slon, xs.max(), side="right")
        if a >= b:
            continue
        cand = np.nonzero((slat[a:b] >= ys.min()) & (slat[a:b] <= ys.max()))[0] + a
        if not len(cand):
            continue
        x, y = slon[cand], slat[cand]
        inside = np.zeros(len(cand), bool)
        hole = np.zeros(len(cand), bool)
        for role, px, py in rings:
            hit = K.points_in_ring(x, y, px, py)
            if role == 0:
                inside |= hit
            else:
                hole |= hit
        keep = cand[inside & ~hole]
        out_i.append(order[keep])
        out_f.append(np.full(len(keep), p["feature_id"], np.int64))
    if not out_i:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_i), np.concatenate(out_f)


def join_expectation(page_ids, lat, lon, polygons, sample_ids) -> dict:
    """Left-join expectation: total rows, matched rows and the sorted
    (page_id, feature_id) rows of the sample pages (None = no match)."""
    pi, fi = pip_pairs(lat, lon, polygons)
    matched_pages = np.unique(pi)
    rows = len(pi) + (len(page_ids) - len(matched_pages))
    by_page: dict[int, list[int]] = {}
    for i, f in zip(pi.tolist(), fi.tolist()):
        by_page.setdefault(int(page_ids[i]), []).append(f)
    sample = sorted(
        (pid, f) for pid in sample_ids
        for f in (by_page.get(pid) or [None]))
    return {"rows": rows, "matched": len(pi), "sample": sample}


# ---------------------------------------------------------------------------
# tiles


def tile_xy(lat, lon, z: int) -> tuple[np.ndarray, np.ndarray]:
    return K.tile_x(lon, z), K.tile_y_float(lat, z)


def page_tiles_expectation(page_ids, lat, lon, zooms, sample_ids) -> dict:
    """Row count, sum of x + y over every row, and the sample rows."""
    total = 0
    sample = []
    pos = {int(p): i for i, p in enumerate(page_ids)}
    for z in zooms:
        x, y = tile_xy(lat, lon, z)
        total += int(x.sum()) + int(y.sum())
        for pid in sample_ids:
            i = pos[pid]
            sample.append((pid, z, int(x[i]), int(y[i])))
    return {"rows": len(page_ids) * len(zooms), "sum_xy": total,
            "sample": sorted(sample)}


def _band_params(z: float) -> tuple[int, int]:
    # area cutoff and Douglas-Peucker ratio of a zoom band, from the
    # reference renderer's constants (scale = 256/360 * 2^z)
    scale = 256.0 / 360.0 * 2.0 ** z
    return math.trunc(8.0 * (1e7 / scale) ** 2), math.trunc(1e7 / scale / 2.0)


SMALL_AREA = _band_params(15.5)[0]
BUILDING_CATEGORY = 12
BUILDING_AREA = 50_000_000


def feature_tile_rows(p, zooms) -> list[tuple]:
    """Exploded (feature_id, band, z, x, y) rows of one polygon: the z14
    small/large size class over the full-resolution bbox, then one band
    per zoom whose area cutoff the feature passes, over the bbox of its
    simplified rings (clamped to the zoom's tile range)."""
    rings = [(np.asarray(r["lat"], np.int64), np.asarray(r["lon"], np.int64),
              r["role"]) for r in p["rings"] if len(r["lat"])]
    if not rings:
        return []
    area = sum(K.polygon_area(lo, la) for la, lo, _ in rings)
    la_all = np.concatenate([r[0] for r in rings])
    lo_all = np.concatenate([r[1] for r in rings])
    small = area <= SMALL_AREA or (
        area <= BUILDING_AREA and p["category"] == BUILDING_CATEGORY)
    fid = p["feature_id"]
    spans = [("small" if small else "large", 14,
              int(K.tile_x(lo_all.min(), 14)), int(K.tile_x(lo_all.max(), 14)),
              int(K.tile_y_float(la_all.max(), 14)),
              int(K.tile_y_float(la_all.min(), 14)))]
    for z in zooms:
        cutoff, ratio = _band_params(z)
        if area < cutoff:
            continue
        simp = [(K.simplify_ring_int(ratio, la, lo), role)
                for la, lo, role in rings]
        if any(role == 0 and len(s[0]) < 4 for s, role in simp):
            continue
        sla = np.concatenate([s[0] for s, _ in simp])
        slo = np.concatenate([s[1] for s, _ in simp])
        top = (1 << z) - 1

        def clamp(v, top=top):
            return min(max(int(v), 0), top)

        spans.append((str(z), z, clamp(K.tile_x(slo.min(), z)),
                      clamp(K.tile_x(slo.max(), z)),
                      clamp(K.tile_y_float(sla.max(), z)),
                      clamp(K.tile_y_float(sla.min(), z))))
    return [(fid, band, z, x, y)
            for band, z, x0, x1, y0, y1 in spans
            for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]


def feature_tiles_expectation(polygons, zooms, sample_fids) -> dict:
    rows = 0
    sample = []
    want = set(sample_fids)
    for p in polygons:
        r = feature_tile_rows(p, zooms)
        rows += len(r)
        if p["feature_id"] in want:
            sample.extend(r)
    return {"rows": rows, "sample": sorted(sample)}


# ---------------------------------------------------------------------------
# kNN


def knn1(lat, lon, f_id, f_lat, f_lon) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force nearest feature by squared planar fixed-point
    distance, longitude difference wrapped at 180°, ties to the lower
    feature id.  Returns (feature_id, dist2) per point."""
    o = np.argsort(f_id, kind="stable")
    f_id, f_lat, f_lon = f_id[o], f_lat[o], f_lon[o]
    dlat = lat[:, None] - f_lat[None, :]
    dlon = np.abs(lon[:, None] - f_lon[None, :])
    dlon = np.minimum(dlon, K.LON_WORLD - dlon)
    d2 = dlat * dlat + dlon * dlon
    best = np.argmin(d2, axis=1)          # first minimum = lowest id
    return f_id[best], d2[np.arange(len(lat)), best]


# ---------------------------------------------------------------------------
# salt factor


def salt_factor(lat, lon, z: int, max_salt: int = 64) -> int:
    """Hottest cell over the 95th-percentile cell at zoom ``z``,
    rounded up and clamped to [1, max_salt]."""
    x, y = tile_xy(lat, lon, z)
    _, counts = np.unique((x << 32) | y, return_counts=True)
    counts = np.sort(counts)
    p95 = int(counts[max(math.ceil(0.95 * len(counts)) - 1, 0)])
    return max(1, min(max_salt, math.ceil(int(counts[-1]) / max(p95, 1))))


# ---------------------------------------------------------------------------
# text fingerprint and routing


def fingerprint(text: str) -> int:
    """Polynomial hash of the UTF-8 bytes, base 1000003, mod 2^64, as a
    signed 64-bit value."""
    h = 0
    for b in text.encode("utf-8"):
        h = (h * 1000003 + b) & 0xFFFFFFFFFFFFFFFF
    return h - (1 << 64) if h >= 1 << 63 else h


def dijkstra(adj: dict[int, list[tuple[int, float]]], source: int) -> dict[int, float]:
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist[u]:
            continue
        for v, w in adj.get(u, ()):
            nd = d + w
            if nd < dist.get(v, math.inf):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def adjacency(edge_rows) -> dict[int, list[tuple[int, float]]]:
    adj: dict[int, list[tuple[int, float]]] = {}
    for s, d, w in edge_rows:
        adj.setdefault(int(s), []).append((int(d), float(w)))
    return adj
