"""Independent derivations that every timed operation's output is checked
against. Nothing here calls the engine's operators: cells, point-in-polygon,
nearest neighbours, shingle sets and edit distance are re-derived from their
definitions with NumPy and the standard library.
"""

from __future__ import annotations

import hashlib

import numpy as np

# EQC cell id layout (copernicusdata_jl_spark/functions/cells.py docstring):
# cell_id = res * 2^58 + x * 2^29 + y over a 2^(res+1) x 2^res lon/lat grid.
_R_MULT = 1 << 58
_X_MULT = 1 << 29
EARTH_R_M = 6371008.8


def eqc_xy(lat, lon, res: int) -> tuple[np.ndarray, np.ndarray]:
    nx, ny = 2 ** (res + 1), 2 ** res
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * ny), 0, ny - 1).astype(np.int64)
    return x, y


def eqc_cell(lat, lon, res: int) -> np.ndarray:
    x, y = eqc_xy(lat, lon, res)
    return res * _R_MULT + x * _X_MULT + y


def eqc_parent(cell: np.ndarray, child_res: int, parent_res: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.int64)
    x = (cell % _R_MULT) // _X_MULT
    y = cell % _X_MULT
    s = child_res - parent_res
    return parent_res * _R_MULT + (x >> s) * _X_MULT + (y >> s)


def _ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test, one ring, half-open in y."""
    inside = np.zeros(px.shape, dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if y1 == y2:
            continue
        straddle = (py >= min(y1, y2)) & (py < max(y1, y2))
        xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (px < xcross)
    return inside


def polygon_contains(lat, lon, rings: list) -> np.ndarray:
    """Brute-force containment of points in one polygon (all rings, even-odd).
    A ring whose edges jump more than 180 degrees of longitude crosses the
    antimeridian; it is unwrapped to [0, 360) and points are tested at both
    lon and lon + 360."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    arrs = [np.asarray(r, dtype=np.float64) for r in rings]
    wraps = any(np.any(np.abs(np.diff(np.vstack([a, a[:1]])[:, 0])) > 180.0) for a in arrs)
    if not wraps:
        hit = np.zeros(lat.shape, dtype=bool)
        for a in arrs:
            hit ^= _ray_cast(lon, lat, a)
        return hit
    un = [np.column_stack([np.where(a[:, 0] < 0, a[:, 0] + 360.0, a[:, 0]), a[:, 1]]) for a in arrs]
    out = np.zeros(lat.shape, dtype=bool)
    for shifted in (lon, lon + 360.0):
        hit = np.zeros(lat.shape, dtype=bool)
        for a in un:
            hit ^= _ray_cast(shifted, lat, a)
        out |= hit
    return out


def pip_pairs(lat, lon, polygons: list[dict], id_key: str = "poly_id") -> list[tuple[int, str]]:
    """All (point index, polygon id) pairs with the point inside the polygon,
    by testing every point against every polygon (no cell cover)."""
    out: list[tuple[int, str]] = []
    for p in polygons:
        idx = np.nonzero(polygon_contains(lat, lon, p["rings"]))[0]
        out.extend((int(i), p[id_key]) for i in idx)
    return out


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = p2 - p1
    dl = np.radians(np.asarray(lon2) - np.asarray(lon1))
    a = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_R_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def knn_bruteforce(qlat, qlon, lat, lon, ids, k: int) -> list[list[tuple[int, float]]]:
    """Per query: the k nearest (id, metres) by exact haversine over all points."""
    out = []
    for a, b in zip(qlat, qlon):
        d = haversine_m(a, b, lat, lon)
        order = np.lexsort((ids, d))[:k]
        out.append([(int(ids[i]), float(d[i])) for i in order])
    return out


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def levenshtein(a: str, b: str) -> int:
    """Exact edit distance, Hyyrö's bit-parallel form of Myers' algorithm
    (one big-int word per pattern, O(len(b)) word operations)."""
    if len(a) < len(b):
        a, b = b, a
    m = len(b)
    if m == 0:
        return len(a)
    peq: dict[str, int] = {}
    for i, ch in enumerate(b):
        peq[ch] = peq.get(ch, 0) | (1 << i)
    mask = (1 << m) - 1
    high = 1 << (m - 1)
    pv, mv, score = mask, 0, m
    for ch in a:
        eq = peq.get(ch, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | (~(xh | pv) & mask)
        mh = pv & xh
        if ph & high:
            score += 1
        elif mh & high:
            score -= 1
        ph = ((ph << 1) | 1) & mask
        mh = (mh << 1) & mask
        pv = mh | (~(xv | ph) & mask)
        mv = ph & xv
    return score


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()
